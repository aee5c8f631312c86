"""Operator-library unit tests: as-of join equivalence, dedup planted
duplicates, text analysis, similarity recall, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.functions.vector import cosine, dot, norm
from spark_s3_shuffle_spark.operators import dedup as D
from spark_s3_shuffle_spark.operators import multimodal as MM
from spark_s3_shuffle_spark.operators import similarity as SIM
from spark_s3_shuffle_spark.operators import text as T
from spark_s3_shuffle_spark.operators.asof import asof_join, asof_join_pandas
from spark_s3_shuffle_spark.operators.materialize import materialize


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 100), (1, 250), (2, 100), (3, 50)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 90, "a", 1), (1, 100, "b", 2), (1, 200, "c", 3), (2, 400, "d", 4)],
        "k long, ts long, v string, seq long",
    )
    return left, right


EXPECTED_ASOF = {(1, 100): "b", (1, 250): "c", (2, 100): None, (3, 50): None}


def test_asof_join_window(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on="ts", by="k", value_cols=["v"], right_order=["seq"])
    got = {(r["k"], r["ts"]): r["v"] for r in out.collect()}
    assert got == EXPECTED_ASOF


def test_asof_join_pandas_matches_window(spark, asof_frames):
    left, right = asof_frames
    a = asof_join(left, right, on="ts", by="k", value_cols=["v"], right_order=["seq"])
    b = asof_join_pandas(left, right, on="ts", by="k", value_cols=["v"], right_order=["seq"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_asof_exact_ts_tie_uses_last_right(spark):
    # two right rows at the same ts: the higher right_order wins in both paths
    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 10, "x", 1), (1, 10, "y", 2)], "k long, ts long, v string, seq long")
    for fn in (asof_join, asof_join_pandas):
        out = fn(left, right, on="ts", by="k", value_cols=["v"], right_order=["seq"])
        assert out.first()["v"] == "y"


# ---------------------------------------------------------------------------
# dedup family — planted duplicates
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different text about spark shuffle engines and parquet files"),
        (4, "another unrelated document mentioning neither foxes nor dogs at all"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark, docs):
    survivors = {r["doc_id"] for r in D.exact_dedup(docs, ["text"], "doc_id").collect()}
    assert survivors == {0, 2, 3, 4}
    full = D.drop_exact_dups(docs, ["text"], "doc_id")
    assert {r["doc_id"] for r in full.collect()} == {0, 2, 3, 4}


def test_minhash_finds_planted_near_dup(spark, docs):
    cand = D.minhash_lsh_candidates(docs, num_hashes=32, bands=16, shingle_n=3)
    pairs = {(r["a"], r["b"]) for r in cand.collect()}
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup collides in some band
    verified = D.ngram_jaccard_pairs(docs, cand, shingle_n=3, threshold=0.5)
    vp = {(r["a"], r["b"]): r["jaccard"] for r in verified.collect()}
    assert vp[(0, 1)] == 1.0


def test_minhash_dedup_drops_dup(spark, docs):
    kept = {r["doc_id"] for r in D.minhash_dedup(docs, num_hashes=32, bands=16).collect()}
    assert 0 in kept and 1 not in kept
    assert 3 in kept and 4 in kept


def test_lsh_candidates_checkpoint_equivalent(spark, docs):
    """The banded-frame localCheckpoint is a pure materialization: the
    candidate edge set is the one the recompute shape produced, covering
    all four edge sources (the tiny dense_bucket_limit forces the
    oversize star/chain paths too)."""
    cand = D.minhash_lsh_candidates(
        docs, num_hashes=32, bands=16, shingle_n=3, dense_bucket_limit=1
    )
    assert {(r["a"], r["b"]) for r in cand.collect()} == {(0, 1), (0, 2), (1, 2)}


def test_verify_semi_restriction_equivalent(spark, docs):
    """The verify restriction (semi-join the shingle / digest frame to
    candidate ids, materialize once for both legs) is a pure recompute
    cut: confirmed pairs and survivors are the ones the two-pass shape
    produced, on BOTH verify tiers (ngram Jaccard sub-1.0 and
    digest-equality 1.0)."""
    cand = D.minhash_lsh_candidates(docs, num_hashes=32, bands=16, shingle_n=3)
    ng = {
        (r["a"], r["b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(docs, cand, shingle_n=3, threshold=0.5).collect()
    }
    ex = {(r["a"], r["b"]) for r in D.exact_duplicate_pairs(docs, cand).collect()}
    kept = {
        r["doc_id"]
        for r in D.minhash_dedup(docs, num_hashes=32, bands=16, jaccard_threshold=1.0).collect()
    }
    assert ng == {(0, 1, 1.0), (0, 2, 0.8462), (1, 2, 0.8462)}
    assert ex == {(0, 1)}
    assert kept == {0, 2, 3, 4}


def test_banded_checkpoint_equivalent_simhash_embedding_semantic(spark, docs):
    """The checkpoints in the simhash / sign-LSH / semantic paths are pure
    materializations: survivors and pair sets are the ones the recompute
    shape produced."""
    vrows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.99, 0.1, 0.0]),
    ]
    vdf = spark.createDataFrame(vrows, "vec_id long, embedding array<double>")

    sim = {r["doc_id"] for r in D.simhash_dedup(docs).collect()}
    emb = {
        (r["a"], r["b"])
        for r in D.embedding_near_dup_pairs(
            vdf, threshold=0.95, num_planes=8, bands=4, dim=4
        ).collect()
    }
    sem = {
        (r["a"], r["b"], r["cos"])
        for r in D.semantic_dedup_pairs(vdf, threshold=0.95, num_cells=2, probes=1).collect()
    }
    assert sim == {0, 2, 3, 4}
    assert emb == {(0, 1), (2, 3)}
    assert sem == {(0, 1, 0.9999), (2, 3, 0.9949)}


def test_connected_components_chain(spark):
    """A 5~7, 7~3 chain is one component labeled by its min id (3), plus an
    isolated pair; transitive-lite would wrongly keep both 3 and 5."""
    edges = spark.createDataFrame([(5, 7), (3, 7), (10, 11)], "a long, b long")
    comp = {r["node"]: r["component"] for r in D.connected_components(edges).collect()}
    assert comp == {3: 3, 5: 3, 7: 3, 10: 10, 11: 10}


def test_dedup_by_components_transitive_chain(spark):
    rows = [(3, "x"), (5, "y"), (7, "z"), (9, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(5, 7), (3, 7)], "a long, b long")
    kept = {r["doc_id"] for r in D.dedup_by_components(df, pairs).collect()}
    assert kept == {3, 9}


def test_minhash_dedup_cc_matches_lite_on_simple_dups(spark, docs):
    kept = {r["doc_id"] for r in D.minhash_dedup_cc(docs, num_hashes=32, bands=16).collect()}
    assert 0 in kept and 1 not in kept
    assert 3 in kept and 4 in kept


def test_simhash_identical_texts_same_hash(spark, docs):
    kept = {r["doc_id"] for r in D.simhash_dedup(docs).collect()}
    assert 0 in kept and 1 not in kept


def test_simhash_near_dup_pairs_hamming_banding(spark):
    """Pigeonhole banding: a planted 1-bit flip must be caught; a pair
    differing in 10 bits must be filtered by the Hamming-k verify even when
    the flips cluster inside a single 16-bit block (so the other blocks
    collide and the pair IS a candidate)."""
    h0 = 0x0123456789ABCDEF
    rows = [
        (0, h0),
        (1, h0 ^ (1 << 17)),          # hamming 1 → pair
        (2, h0 ^ 0x3FF),              # 10 flips, all in block 0 → candidate but rejected
        (3, h0 ^ ((1 << 5) | (1 << 20) | (1 << 40))),  # hamming 3, spread → pair
    ]
    sim = spark.createDataFrame(rows, "doc_id long, _simhash long")
    pairs = {(r["a"], r["b"]): r["hamming"] for r in D.simhash_near_dup_pairs(sim, hamming_k=3).collect()}
    assert pairs[(0, 1)] == 1
    assert pairs[(0, 3)] == 3
    assert (0, 2) not in pairs


def test_simhash_one_bit_flip_text_dropped(spark):
    """End-to-end: a document whose simhash differs from a smaller-id twin
    by ≤ hamming_k bits is removed. Identical text guarantees hamming 0;
    a tiny suffix tweak stays within a few bits for long texts."""
    base = " ".join(f"word{i} token{i % 7} common filler text" for i in range(40))
    df = spark.createDataFrame(
        [(0, base), (1, base + " zz")], "doc_id long, text string"
    )
    sims = {r["doc_id"]: r["_simhash"] for r in D.simhash_frame(df).collect()}
    hamming = bin(sims[0] ^ sims[1]).count("1")
    kept = {r["doc_id"] for r in D.simhash_dedup(df, hamming_k=max(3, hamming)).collect()}
    assert kept == {0}


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = D.embedding_near_dup_pairs(df, threshold=0.99, num_planes=8, bands=4, dim=4)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_embedding_near_dup_requires_dim(spark):
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        D.embedding_near_dup_pairs(df)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_token_count_and_quality(spark):
    df = spark.createDataFrame([(1, "The quick, brown fox!"), (2, "")], "doc_id long, text string")
    q = {r["doc_id"]: r for r in T.quality_score(df).collect()}
    assert q[1]["n_tokens"] == 4
    assert q[1]["punct_ratio"] > 0
    assert q[2]["n_tokens"] == 0 and q[2]["stop_ratio"] == 0.0


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "der hund und die katze und ein haus"),
         (3, "le chat et le chien et les maisons"),
         (4, "这是 一个 中文 文档")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in T.with_lang_id(df).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "zh"


def test_shingles_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    sh = df.select(T.shingles(F.col("text"), 3).alias("s")).first()["s"]
    assert sh == ["a b c", "b c d", "c d e"]
    fp = df.select(F.md5(F.col("text")).alias("f")).first()["f"]
    assert len(fp) == 32  # md5 hex


def test_chunk_documents_boundaries(spark):
    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text), (2, "tiny doc")], "doc_id long, text string")
    chunks = T.chunk_documents(df, chunk_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: step 56 → chunks at 0 (64 toks) and 56 (44 toks)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_chunk_tokens"] for r in c1] == [64, 44]
    assert c1[0]["chunk_text"].split()[56:] == c1[1]["chunk_text"].split()[:8]  # overlap
    # doc 2: single short chunk
    assert [r["n_chunk_tokens"] for r in by_doc[2]] == [2]


def test_decontaminate_flags_overlap(spark):
    shared = " ".join(f"t{i}" for i in range(10))
    train = spark.createDataFrame(
        [(1, shared + " extra words here"), (2, "completely different content " + " ".join(f"x{i}" for i in range(8)))],
        "doc_id long, text string",
    )
    test = spark.createDataFrame([(100, shared)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.decontaminate(train, test, ngram=8).collect()}
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0


def test_gopher_quality_flags(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away today again"
    df = spark.createDataFrame(
        [(1, good), (2, "too short"), (3, "### ## # " + good + " # ## ###" + " #" * 40)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in T.gopher_quality_flags(df).collect()}
    assert got[1]["quality_pass"]
    assert not got[2]["ok_tokens"] and not got[2]["quality_pass"]
    assert not got[3]["ok_symbols"] and not got[3]["quality_pass"]


# ---------------------------------------------------------------------------
# vector fns + similarity
# ---------------------------------------------------------------------------

def test_vector_fns(spark):
    df = spark.createDataFrame([([3.0, 4.0], [1.0, 0.0])], "a array<double>, b array<double>")
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("n"),
        F.round(cosine(F.col("a"), F.col("b")), 4).alias("c"),
    ).first()
    assert row["d"] == 3.0 and row["n"] == 5.0 and row["c"] == 0.6


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from spark_s3_shuffle_spark.sources.catalog import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    exact = [r["vec_id"] for r in SIM.cosine_topk(emb, probe, k=10).collect()]
    idx = SIM.build_ivf_index(emb, num_cells=8)
    try:
        vec = probe.first()["embedding"]
        approx = [r["vec_id"] for r in SIM.ivf_probe_vector(idx, vec, k=10, nprobe=4).collect()]
    finally:
        idx.unpersist()
    # approximate search must at least find the probe itself and overlap well
    assert exact[0] == 0 and approx[0] == 0
    assert len(set(exact) & set(approx)) >= 5


def test_ivf_probe_prunes_to_nprobe_cells(spark):
    """Scale contract of the probe path: a single-probe query plans ONE
    pruned scan (IN-list on cell, no join/exchange in the plan) and keeps
    useful recall vs brute force on a corpus big enough to be signal."""
    from spark_s3_shuffle_spark.plans import inspect as I
    dim = 16
    vec = F.array(*[(F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(1000)) / 500.0 - 1.0) for i in range(dim)])
    corpus = spark.range(30_000).select(F.col("id").alias("vec_id"), vec.alias("embedding")).persist()
    try:
        idx = SIM.build_ivf_index(corpus, num_cells=16)
        probe = corpus.filter(F.col("vec_id") == 0)
        out = SIM.ivf_probe_vector(idx, probe.first()["embedding"], k=10, nprobe=4)
        plan = I.formatted_plan(out)
        import re
        assert re.search(r"Condition : .*cell#\d+ IN ", plan), plan[:1500]
        # the probe's own plan (everything above the cached index relation)
        # must be join- and exchange-free: one pruned scan + filter + top-k
        probe_section = plan.split("InMemoryRelation")[0]
        assert "Join" not in probe_section and "Exchange" not in probe_section, probe_section
        exact = [r["vec_id"] for r in SIM.cosine_topk(corpus, probe, k=10).collect()]
        approx = [r["vec_id"] for r in out.collect()]
        assert approx[0] == 0
        assert len(set(exact) & set(approx)) >= 5
        idx.unpersist()
    finally:
        corpus.unpersist()


def test_ivf_batch_join_recall(spark, sf_dir):
    """Batch ANN join (q120b shape): per-probe results flow through ONE
    distributed plan. Properties: (a) every probe's rank-1 hit is itself
    (cos 1.0 — the probe is in the corpus and in its own nearest cell);
    (b) returned cosines agree with the exact scores (candidates are a
    subset of the corpus, only the candidate SET is approximate)."""
    from spark_s3_shuffle_spark.sources.catalog import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    idx = SIM.build_ivf_index(emb, num_cells=8)
    try:
        probes = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        batch = SIM.ivf_batch_topk_join(idx, probes, k=5, nprobe=4, probe_id_col="probe_id")
        rows = batch.collect()
        n_probes = probes.count()
        by_probe = {}
        for r in rows:
            by_probe.setdefault(r["probe_id"], []).append(r)
        assert len(by_probe) == n_probes
        for pid, rs in by_probe.items():
            best = min(rs, key=lambda r: r["rank"])
            assert best["vec_id"] == pid and best["cos"] == 1.0
            # per-probe cosine values must equal the exact scores
            probe = emb.filter(F.col("vec_id") == pid)
            exact = {r["vec_id"]: r["cos"] for r in SIM.cosine_topk(emb, probe, k=500).collect()}
            for r in rs:
                assert exact[r["vec_id"]] == r["cos"]
    finally:
        idx.unpersist()


def test_quantized_batch_join_exact_contract(spark, sf_dir):
    """q120's contract: the quantized-scan + exact-rescore batch join must
    reproduce per-probe brute force bit-for-bit at rescore_factor=4."""
    from spark_s3_shuffle_spark.sources.catalog import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(0, 100)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = {
        (r["probe_id"], r["rank"]): (r["vec_id"], r["cos"])
        for r in SIM.quantized_batch_topk_join(emb, probes, k=5, probe_id_col="probe_id").collect()
    }
    for pid in (0, 100):
        probe = emb.filter(F.col("vec_id") == pid)
        exact = SIM.cosine_topk(emb, probe, k=5).collect()
        for rank, r in enumerate(exact, start=1):
            assert got[(pid, rank)] == (r["vec_id"], r["cos"])


def test_lsh_topk_finds_probe_and_overlaps(spark, sf_dir):
    from spark_s3_shuffle_spark.sources.catalog import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    keyed = SIM.with_lsh_keys(emb, dim=64, num_planes=16, bands=4)
    probe = emb.filter(F.col("vec_id") == 0)
    exact = [r["vec_id"] for r in SIM.cosine_topk(emb, probe, k=10).collect()]
    approx = [r["vec_id"] for r in SIM.lsh_topk(keyed, probe, dim=64, k=10, num_planes=16, bands=4).collect()]
    assert approx[0] == 0  # the probe shares every band with itself
    assert len(set(exact) & set(approx)) >= 3


@pytest.mark.parametrize("num_planes,bands", [(10, 4), (4, 8), (16, 4)])
def test_sign_lsh_keys_need_whole_bands(spark, num_planes, bands):
    """Every sign-LSH key builder rejects a plane budget that does not split
    into whole bands: 10 planes in 4 bands would drop 2 planes silently, and
    8 bands of 4 planes would give every vector key 0 (all candidates)."""
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(4)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probe = emb.filter(F.col("vec_id") == 0)
    fake_keys = emb.withColumn("lsh_keys", F.array(*[F.lit(0).cast("long")] * bands))
    builders = [
        lambda: D.embedding_near_dup_pairs(emb, num_planes=num_planes, bands=bands, dim=4),
        lambda: SIM.with_lsh_keys(emb, dim=4, num_planes=num_planes, bands=bands),
        lambda: SIM.lsh_topk(fake_keys, probe, dim=4, num_planes=num_planes, bands=bands),
    ]
    if num_planes % bands:
        for build in builders:
            with pytest.raises(ValueError, match="divisible by bands"):
                build()
    else:
        keyed = SIM.with_lsh_keys(emb, dim=4, num_planes=num_planes, bands=bands)
        assert all(len(r["lsh_keys"]) == bands for r in keyed.collect())
        top = SIM.lsh_topk(keyed, probe, dim=4, k=3, num_planes=num_planes, bands=bands)
        assert top.first()["vec_id"] == 0
        D.embedding_near_dup_pairs(emb, num_planes=num_planes, bands=bands, dim=4).collect()


def test_ivf_build_probe_split(spark, sf_dir):
    """The amortized path: one materialized index, repeated probes — each
    probe finds itself first."""
    from spark_s3_shuffle_spark.sources.catalog import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    idx = SIM.build_ivf_index(emb, num_cells=8)
    try:
        assert idx.assignments.columns == ["vec_id", "cell", "_v"]
        for probe_id in (0, 7):
            vec = emb.filter(F.col("vec_id") == probe_id).first()["embedding"]
            via_index = [tuple(r) for r in SIM.ivf_probe_vector(idx, vec, k=5, nprobe=4).collect()]
            assert via_index[0][0] == probe_id
    finally:
        idx.unpersist()


def test_ivf_build_collects_centroids_once(spark, sf_dir):
    """One build = the seed sample, one Lloyd round's centroid collect and
    the assignment pin. The final centroids are the Lloyd round's rows
    already on the driver; re-deriving them re-ran an assignment scan plus
    a two-level aggregation (11 jobs per build instead of 8)."""
    import uuid

    from spark_s3_shuffle_spark.plans.inspect import job_group
    from spark_s3_shuffle_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    tag = f"ivf-build-{uuid.uuid4().hex[:8]}"
    with job_group(spark, tag):
        idx = SIM.build_ivf_index(emb, num_cells=8, iterations=1)
    try:
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(tag))
        assert jobs <= 8, jobs
        assert idx.centroids.schema.simpleString() == "struct<cell:int,centroid:array<double>>"
        assert [r["cell"] for r in idx.centroids.collect()] == idx.cells
    finally:
        idx.unpersist()


# ---------------------------------------------------------------------------
# skew mitigation
# ---------------------------------------------------------------------------

def _task_shuffle_reads(spark, group: str) -> list[int]:
    """Shuffle-read record count of every TASK of every stage of the jobs
    tagged with ``group`` — read from the AppStatusStore (the UI's task
    table): real task-level listener metrics, no callback plumbing. The
    listener bus is drained first, so a stage whose completion event is
    still queued does not read as partial metrics."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    reads = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            tasks = store.taskList(sid, 0, 10000)
            for j in range(tasks.size()):
                tm = tasks.apply(j).taskMetrics()
                if tm.isDefined():
                    reads.append(int(tm.get().shuffleReadMetrics().recordsRead()))
    return reads


def _zipf_frame(spark):
    """200k rows; key 0 holds 50%, the rest spread over ~1000 keys."""
    return spark.range(200_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
        .cast("long")
        .alias("k"),
        F.col("id").alias("v"),
    )


def test_skew_straggler_vs_salted_bound_via_task_metrics(spark):
    """The skew WIN itself, measured (q74's oracle proves only equivalence):
    on a zipf frame whose hot key holds 50% of rows, a per-group window
    WITHOUT group-limit pushdown funnels the hot key into ONE task, while
    salted_top_k_per_group bounds every task's shuffle reads. Asserted from
    task-level shuffleRead metrics.

    Context the numbers also document: with Spark 4's WindowGroupLimit
    ENABLED, a plain rank-filter top-k does NOT straggle (the k-filter runs
    map-side — measured max task read drops to the balanced ~n/partitions).
    The pushdown is disabled here to model the window shapes that have no
    group-limit (running aggregates, percent_rank, ntile, lag) — those are
    what the salting tier exists for."""
    import uuid

    from spark_s3_shuffle_spark.operators import skew as SK

    sc = spark.sparkContext
    confs = {
        # coalescing merges the toy-sized reduce partitions into one task,
        # masking the distribution being measured
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.optimizer.windowGroupLimitThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    tag = uuid.uuid4().hex[:8]
    df = _zipf_frame(spark).persist()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df.count()
        sc.setJobGroup(f"unsalted-{tag}", "zipf window straggler")
        SK.top_k_per_group(df, ["k"], [F.col("v").desc()], 5).count()
        sc.setJobGroup(f"salted-{tag}", "salted per-task bound")
        SK.salted_top_k_per_group(df, ["k"], [F.col("v").desc()], 5, salt=16).count()
        sc.setJobGroup(f"done-{tag}", "")
        unsalted = max(_task_shuffle_reads(spark, f"unsalted-{tag}"))
        salted = max(_task_shuffle_reads(spark, f"salted-{tag}"))
        # straggler: one task swallowed at least the hot key (~100k rows)
        assert unsalted > 90_000, unsalted
        # salting spreads it: worst task reads at most half the straggler's
        assert salted * 2 <= unsalted, (unsalted, salted)
    finally:
        sc.setJobGroup("", "")
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
        df.unpersist()


def test_aqe_skew_join_split_fires_on_zipf_frame(spark):
    """AQE's skew-join split (on in the engine session) visibly fires on the
    zipf fixture: the EXECUTED sort-merge join is stamped skew=true. This is
    the moderate-skew tier the engine delegates to AQE; the salting tier
    covers what AQE can't split (window partitions, single-hot-key builds)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        dim = spark.range(1000).select(F.col("id").alias("k"), F.lit("d").alias("dim"))
        joined = _zipf_frame(spark).withColumn("pad", F.lit("x" * 100)).join(dim, "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_salted_join_matches_plain_join(spark):
    from spark_s3_shuffle_spark.operators import skew as SK
    # 90% of the big side lands on one hot key — the shape AQE can't split
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("dim"))
    plain = big.join(small, "k").select("k", "payload", "dim")
    salted = SK.salted_join(big, small, "k").select("k", "payload", "dim")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0 and plain.exceptAll(salted).count() == 0


def test_salted_join_spreads_hot_key(spark):
    from spark_s3_shuffle_spark.operators import skew as SK
    big = spark.range(1000).select(F.lit(7).alias("k"), F.col("id").alias("p"))
    salted = SK.with_salt(big, salt=8)
    # deterministic salt: same frame → same salts; hot key spread over >1 value
    assert salted.select("_salt").distinct().count() > 1
    again = SK.with_salt(big, salt=8)
    assert salted.exceptAll(again).count() == 0


def test_salted_agg_matches_plain_agg(spark):
    from spark_s3_shuffle_spark.operators import skew as SK
    df = spark.range(5000).select((F.col("id") % 3).alias("k"), F.col("id").alias("v"))
    plain = {r["k"]: (r["s"], r["c"]) for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("c")).collect()}
    salted = SK.salted_agg(
        df, ["k"],
        partial_aggs=[F.sum("v").alias("ps"), F.count("v").alias("pc")],
        final_aggs=[F.sum("ps").alias("s"), F.sum("pc").alias("c")],
    )
    got = {r["k"]: (r["s"], r["c"]) for r in salted.collect()}
    assert got == plain


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_media_schema_and_dedup(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "abc"), (3, "xyz")], "media_id long, payload string")
    media = MM.as_media(df, "media_id", "payload", "text/plain")
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    assert media.first()["meta"]["mime"] == "text/plain"
    kept = {r["media_id"] for r in MM.dedup_media(media).collect()}
    assert kept == {1, 3}


def test_feature_extraction_stub(spark):
    df = spark.createDataFrame([(1, "abcdef"), (2, None)], "media_id long, payload string")
    media = MM.as_media(df, "media_id", "payload", "image/png")
    feats = {r["media_id"]: r for r in MM.extract_features(media).collect()}
    assert feats[1]["ok"] == "true" and feats[1]["n_bytes"] == 6
    assert feats[1]["width"] == 16 + (6 % 64)
    assert feats[2]["ok"] == "false"


def test_text_decode_charsets_and_stats(spark):
    """The REAL text decoder (q47): charset branches the ascii-only fixture
    can't exercise — utf-8 multibyte, undecodable bytes (latin-1 fallback
    tagged 'binary'), NULL payloads — plus newline/char stats."""
    rows = [
        (1, "plain ascii\nsecond line".encode()),
        (2, "café ☃".encode("utf-8")),  # multibyte utf-8
        (3, b"\xff\xfe invalid utf8"),  # undecodable -> latin-1/'binary'
        (4, None),
        (5, b""),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = df.select("media_id", "payload")
    feats = {r["media_id"]: r for r in MM.extract_text_features(media).collect()}
    assert feats[1]["charset"] == "ascii"
    assert feats[1]["n_lines"] == 2 and feats[1]["ascii_ratio"] == 1.0
    assert feats[2]["charset"] == "utf-8"
    assert feats[2]["n_bytes"] > feats[2]["n_chars"]  # multibyte
    assert feats[2]["ascii_ratio"] < 1.0
    assert feats[3]["charset"] == "binary"
    assert feats[4]["charset"] is None and feats[4]["n_bytes"] == 0
    assert feats[5]["charset"] == "ascii" and feats[5]["n_lines"] == 1
    assert feats[5]["ascii_ratio"] == 1.0  # empty defined as fully ascii


_JUNK = b"\x00junk\xff" * 4


@pytest.mark.parametrize("extract, schema, junk_is_media", [
    ("extract_features", "FEATURE_SCHEMA", True),  # the stub fakes any bytes
    ("extract_text_features", "TEXT_FEATURE_SCHEMA", True),  # latin-1 'binary'
    ("extract_image_features", "IMAGE_FEATURE_SCHEMA", False),
    ("extract_audio_features", "AUDIO_FEATURE_SCHEMA", False),
    ("extract_png_features", "PNG_FEATURE_SCHEMA", False),
    ("extract_jpeg_features", "JPEG_FEATURE_SCHEMA", False),
    ("extract_video_features", "VIDEO_FEATURE_SCHEMA", False),
])
def test_extractors_survive_null_and_junk_payloads(spark, extract, schema, junk_is_media):
    """A NULL payload and a junk one ride every extractor's Arrow scan as
    rows, never as a task failure, under the declared schema. A rejected
    payload has ok='false' and a null in every nullable feature, except
    n_bytes, the payload's byte count (0 for NULL)."""
    # an int id: the scan casts any integer id to the schema's long
    df = spark.createDataFrame([(1, None), (2, _JUNK)], "media_id int, payload binary")
    feats = getattr(MM, extract)(df)
    assert feats.schema == getattr(MM, schema)
    got = {r["media_id"]: r.asDict() for r in feats.collect()}
    rejected = [(1, 0)] if junk_is_media else [(1, 0), (2, len(_JUNK))]
    for mid, n_bytes in rejected:
        row = got[mid]
        assert row.get("ok", "false") == "false", row
        assert row.get("n_bytes", n_bytes) == n_bytes, row
        assert all(
            row[f.name] is None
            for f in feats.schema.fields if f.nullable and f.name != "n_bytes"
        ), row
    if junk_is_media:
        assert got[2]["n_bytes"] == len(_JUNK)
        assert got[2].get("ok", "true") == "true" and got[2].get("charset", "binary") == "binary"


def test_connected_components_string_ids_long_chain(spark):
    """ADVICE r2: convergence must be id-type-agnostic. A 5-node string-id
    chain needs 2+ propagation rounds; a numeric-sum fingerprint would
    terminate after round 1 (sum over strings is NULL) and mislabel the
    tail."""
    edges = spark.createDataFrame(
        [("docB", "docC"), ("docC", "docD"), ("docD", "docE"), ("docA", "docB")],
        "a string, b string",
    )
    comp = {r["node"]: r["component"] for r in D.connected_components(edges).collect()}
    assert comp == {n: "docA" for n in ("docA", "docB", "docC", "docD", "docE")}


def test_salted_join_rejects_small_side_preserving_how(spark):
    from spark_s3_shuffle_spark.operators import skew as SK

    big = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    small = spark.range(10).select(F.col("id").alias("k"), F.lit("d").alias("d"))
    for how in ("right", "rightouter", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            SK.salted_join(big, small, "k", how=how)
    # left outer stays legal: preserved side is the (salted) big side
    out = SK.salted_join(big, small, "k", how="left")
    assert out.count() == 100


def test_quantized_topk_equals_exact(spark, sf_dir):
    from spark_s3_shuffle_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 7)
    exact = [tuple(r) for r in SIM.cosine_topk(emb, probe, k=10).collect()]
    quant = [tuple(r) for r in SIM.quantized_topk(emb, probe, k=10).collect()]
    assert quant == exact  # rescore recovers the true top-k, same order


def test_quantize_vectors_int8_range_and_scale_invariance(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[3.0, -4.0, 0.5]), Row(vec_id=2, embedding=[0.0, 0.0, 0.0])]
    )
    rows = {r["vec_id"]: r["qvec"] for r in SIM.quantize_vectors(df).collect()}
    assert all(-127 <= v <= 127 for v in rows[1])
    assert max(abs(v) for v in rows[1]) == 127     # scale maps max|x| -> 127
    assert rows[2] == [0, 0, 0]                    # zero vector stays zero


# ---------------------------------------------------------------------------
# sketches (B20 oracle tier)
# ---------------------------------------------------------------------------

def test_hll_distinct_accuracy_and_determinism(spark):
    import pytest as _pytest

    from spark_s3_shuffle_spark.operators.sketch import hll_distinct

    df = spark.range(0, 20_000).select((F.col("id") % 7919).alias("k"))  # 7919 distinct
    row = hll_distinct(df, "k").first()
    est, exact = row["hll_estimate"], 7919
    # b=8 -> sigma ~6.5%; allow 3 sigma
    assert abs(est - exact) / exact < 0.20, (est, exact)
    assert row["registers_hit"] <= 256
    # content-addressed: invariant to partitioning and duplication volume
    again = hll_distinct(df.repartition(17), "k").first()
    assert again["hll_estimate"] == est
    tripled = hll_distinct(df.union(df).union(df), "k").first()
    assert tripled["hll_estimate"] == est  # duplicates cannot move the sketch
    # low-cardinality path: linear counting engages and stays in-tolerance
    small = spark.range(0, 50).withColumnRenamed("id", "k")
    row_s = hll_distinct(small, "k").first()
    assert abs(row_s["hll_estimate"] - 50) / 50 < 0.25, row_s
    with _pytest.raises(ValueError):
        hll_distinct(df, "k", b=9)


def test_cms_one_sided_error_and_merge(spark):
    from spark_s3_shuffle_spark.operators.sketch import cms_build, cms_estimate

    # zipfish frame: key 0 dominates; 500 tail keys
    df = spark.range(0, 30_000).select(
        F.when(F.col("id") % 3 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(500)))
        .alias("k")
    )
    truth = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    probe = df.select("k").distinct().limit(50)
    est = {r["k"]: r["est_count"] for r in cms_estimate(cms_build(df, "k"), probe, "k").collect()}
    n_total = sum(truth.values())
    for k, e in est.items():
        assert e >= truth[k], (k, e, truth[k])          # never undercounts
        assert e <= truth[k] + 0.01 * n_total, (k, e)   # eps*N bound (loose)
    # mergeable: union of two half-sketches re-aggregated == whole sketch
    a, b = df.filter("id is not null").randomSplit([0.5, 0.5], seed=7)
    merged = (
        cms_build(a, "k")
        .unionByName(cms_build(b, "k"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_build(a.unionByName(b), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_ppm_image_decode_real_values(spark):
    """B51/B75: the image decode seam narrowed — binary PPM (P6) is decoded
    for REAL (header parse + per-channel means over raw pixels), no media
    library involved; only compressed formats remain deployment seams."""
    red_green = b"P6\n# comment\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])
    gray = b"P6 4 2 255\n" + bytes([10, 20, 30] * 8)
    rows = [
        (1, bytearray(red_green)),
        (2, bytearray(gray)),
        (3, bytearray(b"not an image")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = MM.as_media(df, "media_id", "payload", "image/x-portable-pixmap")
    feats = {r["media_id"]: r for r in MM.extract_image_features(media).collect()}
    assert feats[1]["ok"] == "true" and (feats[1]["width"], feats[1]["height"]) == (2, 1)
    assert (feats[1]["mean_r"], feats[1]["mean_g"], feats[1]["mean_b"]) == (127.5, 127.5, 0.0)
    assert feats[2]["ok"] == "true" and (feats[2]["width"], feats[2]["height"]) == (4, 2)
    assert (feats[2]["mean_r"], feats[2]["mean_g"], feats[2]["mean_b"]) == (10.0, 20.0, 30.0)
    assert feats[3]["ok"] == "false" and feats[4]["ok"] == "false"


def test_hll_registers_merge_is_lossless(spark):
    """HLL mergeability: sketch(A) ⊔ sketch(B) == sketch(A ∪ B) at the
    register level, so an append-only corpus maintains its distinct-count
    summary incrementally (merge the delta's <=256-row register frame)
    without rescanning history."""
    from spark_s3_shuffle_spark.operators import sketch as SK

    df = spark.range(0, 8_000).select((F.col("id") % 3001).alias("k"))
    a, b = df.filter("id % 2 = 0"), df.filter("id % 2 = 1")
    merged = SK.hll_merge(SK.hll_registers(a, "k"), SK.hll_registers(b, "k"))
    whole = SK.hll_registers(df, "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    est_m = SK.hll_estimate_from_registers(merged).first()["hll_estimate"]
    est_w = SK.hll_estimate_from_registers(whole).first()["hll_estimate"]
    assert est_m == est_w


def test_bottomk_quantile_sketch_properties(spark):
    """B79 quantile tier: bottom-k sample is deterministic under
    repartitioning, mergeable (bottom-k of per-part samples == bottom-k of
    the whole), plans TakeOrderedAndProject (bounded per-task state), and
    its rank-selected quantiles land within the O(1/sqrt(k)) band."""
    from spark_s3_shuffle_spark.operators import sketch as SK

    n = 50_000
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    sample = SK.bottomk_sample(df, ["k"], ["v"], k=1024)
    assert "TakeOrderedAndProject" in sample._jdf.queryExecution().executedPlan().toString()
    rows = sorted(map(tuple, sample.collect()))
    again = sorted(map(tuple, SK.bottomk_sample(df.repartition(13), ["k"], ["v"], k=1024).collect()))
    assert rows == again  # membership is a pure function of row identity
    # mergeable: bottom-k of the union of two half-samples == whole sample
    a, b = df.filter("id % 2 = 0"), df.filter("id % 2 = 1")
    merged = SK.bottomk_merge(
        1024,
        SK.bottomk_sample(a, ["k"], ["v"], k=1024),
        SK.bottomk_sample(b, ["k"], ["v"], k=1024),
    )
    assert sorted(map(tuple, merged.collect())) == rows
    # accuracy: values are uniform on [0, n) so the q-quantile is ~q*n;
    # rank error of a k-sample is ~sqrt(q(1-q)/k) — allow 4 sigma
    qs = [0.25, 0.5, 0.9]
    got = {r["q"]: r["v"] for r in SK.bottomk_quantiles(df, "v", ["k"], qs, k=1024).collect()}
    for q in qs:
        sigma = (q * (1 - q) / 1024) ** 0.5
        assert abs(got[q] / n - q) < 4 * sigma, (q, got[q])


def test_pagerank_fixed_integer_recurrence(spark):
    """Graph tier: the DataFrame PageRank reproduces a pure-Python mirror
    of the scaled-integer recurrence exactly, and is invariant to input
    partitioning (no float summation order anywhere)."""
    from spark_s3_shuffle_spark.operators import graph as GR

    raw = [(0, 1)] * 3 + [(1, 2)] * 2 + [(2, 0)] * 1 + [(0, 2)] * 1 + [(3, 0)] * 2
    df = spark.createDataFrame(raw, "a long, b long")
    edges = GR.edge_weights(df, "a", "b")
    got = {r["n"]: r["r"] for r in GR.pagerank_fixed(edges, iterations=4).collect()}

    # python mirror of the exact integer recurrence
    from collections import defaultdict
    w = defaultdict(int)
    for a, b in raw:
        w[(a, b)] += 1
    nodes = sorted({x for ab in w for x in ab})
    ow = defaultdict(int)
    for (a, _), ww in w.items():
        ow[a] += ww
    S = GR.SCALE
    r = {n: S // len(nodes) for n in nodes}
    for _ in range(4):
        contrib = defaultdict(int)
        for (a, b), ww in w.items():
            contrib[b] += (r[a] * ww) // ow[a]
        r = {n: S * 15 // 100 + (85 * contrib.get(n, 0)) // 100 for n in nodes}
    assert got == r, (got, r)
    again = {
        rr["n"]: rr["r"]
        for rr in GR.pagerank_fixed(
            GR.edge_weights(df.repartition(7), "a", "b"), iterations=4
        ).collect()
    }
    assert again == r
    # node 3 is a pure source: it should hold exactly the base mass
    assert r[3] == S * 15 // 100


def test_weighted_sample_determinism_and_weight_proportionality(spark):
    """Pipeline tier: weighted bottom-k selection is a pure function of row
    identity (stable under repartition), plans TakeOrderedAndProject, and
    doubles a row's inclusion rate when its weight doubles (within the
    binomial band)."""
    from spark_s3_shuffle_spark.operators import pipeline as PL

    n = 40_000
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit(1)).otherwise(F.lit(2)).alias("w"),
    )
    k = 2000
    s = PL.weighted_sample(df, ["k"], "w", k)
    assert "TakeOrderedAndProject" in s._jdf.queryExecution().executedPlan().toString()
    picked = {r["k"] for r in s.collect()}
    assert len(picked) == k
    again = {r["k"] for r in PL.weighted_sample(df.repartition(11), ["k"], "w", k).collect()}
    assert picked == again
    # weight-2 rows should win ~2x as often: expected 2/3 of the sample
    heavy = sum(1 for x in picked if x % 2 == 1)
    frac = heavy / k
    sigma = (2 / 3 * 1 / 3 / k) ** 0.5
    assert abs(frac - 2 / 3) < 5 * sigma, frac
    # non-positive weights are excluded, never auto-winners
    df2 = df.withColumn("w", F.when(F.col("k") < 100, F.lit(0)).otherwise(F.col("w")))
    s2 = {r["k"] for r in PL.weighted_sample(df2, ["k"], "w", k).collect()}
    assert all(x >= 100 for x in s2)


def test_hll_by_key_matches_global_and_accuracy(spark):
    """Per-group HLL: each group's sketch equals the global sketch of that
    group's rows (same register algebra), estimates stay in the b=8 band,
    and the register exchange is invariant to duplication."""
    from spark_s3_shuffle_spark.operators.sketch import hll_distinct, hll_distinct_by_key

    df = spark.range(0, 30_000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 2500).alias("k")
    )
    per = {r["g"]: r["hll_estimate"] for r in hll_distinct_by_key(df, ["g"], "k").collect()}
    for g in (0, 1, 2):
        solo = hll_distinct(df.filter(F.col("g") == g), "k").first()["hll_estimate"]
        assert per[g] == solo, (g, per[g], solo)
        exact = df.filter(F.col("g") == g).select("k").distinct().count()
        assert abs(per[g] - exact) / exact < 0.20, (g, per[g], exact)
    dup = {r["g"]: r["hll_estimate"] for r in hll_distinct_by_key(df.union(df), ["g"], "k").collect()}
    assert dup == per


def test_bottomk_quantiles_by_key_window_group_limit(spark):
    """Per-group quantile sampling plans WindowGroupLimit (map-side
    pre-trim before the exchange) and is invariant to repartitioning."""
    from spark_s3_shuffle_spark.operators.sketch import bottomk_quantiles_by_key

    df = spark.range(0, 30_000).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    out = bottomk_quantiles_by_key(df, ["g"], "v", ["k"], [0.5, 0.9], k=512)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    rows = sorted(map(tuple, out.collect()))
    again = sorted(
        map(
            tuple,
            bottomk_quantiles_by_key(
                df.repartition(9), ["g"], "v", ["k"], [0.5, 0.9], k=512
            ).collect(),
        )
    )
    assert rows == again
    # each group's values are ~uniform on its residue-class lattice; the
    # median estimate must land near the true middle (4-sigma band at k=512)
    med = {r[0]: r[2] for r in rows if r[1] == 0.5}
    for g, v in med.items():
        assert abs(v / 30_000 - 0.5) < 4 * (0.25 / 512) ** 0.5, (g, v)


def test_bigram_coverage_separates_gibberish(spark):
    """LM-proxy signal: repetitive running text scores coverage 1.0, a
    document of unique-token gibberish scores 0.0, and the scores are
    exact integer ratios (partitioning-invariant)."""
    common = "the cat sat on the mat " * 20
    gibberish = " ".join(f"zq{i}xv{i * 7}" for i in range(40))
    rows = [(i, common) for i in range(10)] + [(99, gibberish)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.bigram_coverage(df).collect()}
    assert got[0]["coverage"] == 1.0
    assert got[99]["coverage"] == 0.0
    assert got[99]["total"] == 39 and got[99]["matched"] == 0
    again = {r["doc_id"]: tuple(r) for r in T.bigram_coverage(df.repartition(5)).collect()}
    assert again == {k: tuple(v) for k, v in got.items()}


def test_extend_ivf_index_equals_rebuild(spark):
    """Incremental IVF maintenance: extending an index with a delta yields
    EXACTLY the assignments of a rebuild over the union with the same
    centroids — per-vector assignment is independent given fixed
    centroids, so append-only corpora never re-scan history."""
    import random

    from spark_s3_shuffle_spark.operators import similarity as SIM

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(400)
    ]
    a = spark.createDataFrame(rows[:300], "vec_id long, embedding array<double>")
    b = spark.createDataFrame(rows[300:], "vec_id long, embedding array<double>")
    idx = SIM.build_ivf_index(a, num_cells=8)
    extended = SIM.extend_ivf_index(idx, b)
    got = {
        r["vec_id"]: r["cell"]
        for r in extended.assignments.select("vec_id", "cell").collect()
    }
    # rebuild over the union with the SAME centroids: assign directly
    from pyspark.sql import functions as _F

    union = a.unionByName(b)
    v = union.select("vec_id", SIM._as_double(_F.col("embedding")).alias("_v"))
    want = {
        r["vec_id"]: r["cell"]
        for r in v.withColumn(
            "cell",
            SIM._nearest_cell_udf(idx.centroid_matrix, idx.cells)(_F.col("_v")),
        ).collect()
    }
    assert got == want
    assert len(got) == 400
    extended.unpersist()


def test_wav_audio_decode_real_values(spark):
    """B51/B75 audio seam narrowed like the image side: RIFF/WAVE PCM is
    decoded for real (chunk-tree parse + sample statistics) with zero
    media libraries; only compressed codecs remain deployment stubs."""
    import math
    import struct

    def wav(channels, rate, samples16):
        data = struct.pack(f"<{len(samples16)}h", *samples16)
        fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        # an unknown odd-sized chunk exercises word-alignment skipping
        body += b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # 1 kHz-ish square wave, mono 8 kHz: peak 0.5, rms 0.5 exactly
    square = [16384 if i % 8 < 4 else -16384 for i in range(8000)]
    rows = [
        (1, bytearray(wav(1, 8000, square))),
        (2, bytearray(wav(2, 44100, [0, 0, 1000, -1000] * 10))),
        (3, bytearray(b"RIFFnope")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = MM.as_media(df, "media_id", "payload", "audio/wav")
    got = {r["media_id"]: r for r in MM.extract_audio_features(media).collect()}
    assert got[1]["ok"] == "true"
    assert (got[1]["channels"], got[1]["sample_rate"], got[1]["bits"]) == (1, 8000, 16)
    assert got[1]["n_samples"] == 8000 and got[1]["duration_s"] == 1.0
    assert got[1]["peak"] == 0.5 and got[1]["rms"] == 0.5
    assert got[2]["ok"] == "true" and got[2]["channels"] == 2 and got[2]["n_samples"] == 20
    assert got[3]["ok"] == "false" and got[4]["ok"] == "false"


def test_adpcm_encode_decode_roundtrip_exact_and_tolerant():
    """B51 round-11 compressed-audio tier: the IMA-ADPCM decoder is checked
    two ways against the ENCODER on a sine ramp — (1) EXACTLY against an
    independent re-implementation of the public IMA recurrence (table
    lookups + clamps written out longhand here, not shared with the
    module), and (2) tolerantly against the original waveform (ADPCM is
    lossy; on a smooth signal it tracks within a few step sizes)."""
    import math
    import struct

    samples = [
        int(12000 * math.sin(i / 40.0) + 6000 * math.sin(i / 7.0))
        for i in range(2000)
    ]
    payload = MM.encode_adpcm_wav(samples, 8000, block_align=256)
    got = MM.decode_wav(payload)
    assert got["ok"] and got["bits"] == 4 and got["channels"] == 1
    assert got["n_samples"] == 2000 and got["sample_rate"] == 8000

    # Independent reference decode: walk the same payload with a longhand
    # IMA recurrence and the spec tables, then compare statistics.
    steps = MM._IMA_STEPS
    adj = MM._IMA_INDEX_ADJ
    data_off = payload.index(b"data") + 8
    (data_len,) = struct.unpack_from("<I", payload, data_off - 4)
    data = payload[data_off : data_off + data_len]
    ref = []
    for base in range(0, len(data), 256):
        block = data[base : base + 256]
        pred = struct.unpack_from("<h", block, 0)[0]
        idx = block[2]
        ref.append(pred)
        for byte in block[4:]:
            for nib in (byte & 0xF, byte >> 4):
                step = steps[idx]
                delta = step >> 3
                if nib & 1:
                    delta += step >> 2
                if nib & 2:
                    delta += step >> 1
                if nib & 4:
                    delta += step
                pred = pred - delta if nib & 8 else pred + delta
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + adj[nib]))
                ref.append(pred)
    ref = ref[:2000]  # fact-chunk trim
    peak_ref = max(abs(s) for s in ref) / 32768.0
    rms_ref = (sum(s * s for s in ref) / len(ref)) ** 0.5 / 32768.0
    assert got["peak"] == round(peak_ref, 6)
    assert got["rms"] == round(rms_ref, 6)

    # Lossy tolerance vs the ORIGINAL waveform: RMS error under 2% of
    # full scale on this smooth signal.
    err = (sum((a - b) ** 2 for a, b in zip(ref, samples)) / len(ref)) ** 0.5
    assert err < 0.02 * 32768


def test_adpcm_stereo_block_interleave():
    """Stereo IMA-ADPCM interleaves one 4-byte header then 4-byte nibble
    words PER CHANNEL; a two-channel constant-tier block must decode to
    per-channel constants (interleave bugs would mix them)."""
    import struct

    channels, align = 2, 16  # 4+4 header bytes + one 4-byte word per channel
    block = (
        struct.pack("<hBB", 1000, 0, 0)
        + struct.pack("<hBB", -2000, 0, 0)
        + b"\x08" * 4  # channel-0 word: nibbles 8,0,... delta 0 at index 0
        + b"\x08" * 4  # channel-1 word
    )
    fmt = struct.pack("<HHIIHH", 0x0011, channels, 8000, 8000, align, 4)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(block)) + block
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    got = MM.decode_wav(payload)
    assert got["ok"] and got["channels"] == 2 and got["n_samples"] == 9
    assert got["peak"] == round(2000 / 32768.0, 6)
    # RMS over both channels: 9 samples at 1000 and 9 at -2000
    rms = ((9 * 1000**2 + 9 * 2000**2) / 18) ** 0.5 / 32768.0
    assert got["rms"] == round(rms, 6)


def test_adpcm_planted_tier_matches_oracle_arithmetic(spark):
    """The q322 planted tier: decoded stats equal the closed-form the SQL
    oracle replays — peak == rms == ((id % 63) + 1) / 64 exactly."""
    ids = [0, 1, 62, 63, 100, 4093]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["media_id"]: r
        for r in MM.extract_audio_features(MM.plant_adpcm_media(df, "doc_id")).collect()
    }
    for i in ids:
        r = got[i]
        m = (i % 63) + 1
        assert r["ok"] == "true" and r["bits"] == 4 and r["channels"] == 1
        assert r["n_samples"] == 68 and r["sample_rate"] == 8000
        assert r["duration_s"] == round(68 / 8000, 6)
        assert r["peak"] == m / 64 and r["rms"] == m / 64

    # Unsupported audio compression still fails closed: same fmt but a
    # perceptual-codec tag must not decode.
    import struct

    fmt = struct.pack("<HHIIHH", 0x0055, 1, 8000, 8000, 1, 4)  # MP3 tag
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 8) + b"\x00" * 8
    assert MM.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)["ok"] is False


def test_g711_expansion_tables_match_longhand_spec():
    """B51 round-11 (second pass): the μ-law/A-law expansion tables are
    checked exhaustively against a longhand re-derivation of G.711 —
    segment-by-segment interval arithmetic, not a copy of the module's
    bit expression — plus the spec's landmark values (μ-law ±0 codes
    0xFF/0x7F; A-law's no-true-zero ±8 at codes 0xD5/0x55)."""
    assert MM._ulaw_to_linear(0xFF) == 0 and MM._ulaw_to_linear(0x7F) == 0
    assert MM._ulaw_to_linear(0x80) == 32124 and MM._ulaw_to_linear(0x00) == -32124
    assert MM._alaw_to_linear(0xD5) == 8 and MM._alaw_to_linear(0x55) == -8
    assert MM._alaw_to_linear(0xAA) == 32256 and MM._alaw_to_linear(0x2A) == -32256

    for code in range(256):
        # μ-law longhand: u = complement; magnitude (2*m+33)*2^seg - 33,
        # in quarter-steps of the 14-bit spec value (16-bit alignment).
        u = ~code & 0xFF
        seg, m = (u >> 4) & 7, u & 0xF
        mag = ((2 * m + 33) * (1 << seg) - 33) * 4
        assert MM._ULAW_TABLE[code] == (-mag if u & 0x80 else mag), code
        # A-law longhand: a = code ^ 0x55; seg 0 is linear (2m+1 half-steps),
        # higher segments are (m+16.5)*2^seg in the same half-step unit.
        a = code ^ 0x55
        seg, m = (a >> 4) & 7, a & 0xF
        half = (2 * m + 1) if seg == 0 else (2 * m + 33) * (1 << (seg - 1))
        mag = half * 8
        assert MM._ALAW_TABLE[code] == (mag if a & 0x80 else -mag), code

    # both laws are symmetric: every magnitude appears with both signs
    for tab in (MM._ULAW_TABLE, MM._ALAW_TABLE):
        assert sorted(tab) == sorted(-v for v in tab)


def test_g711_planted_tier_matches_oracle_arithmetic(spark):
    """The q324/q325 planted tiers: decoded stats equal the closed forms
    the SQL oracles replay, and the μ-law magnitudes provably avoid
    6-decimal rounding ties (so Python round-half-even and DuckDB ROUND
    agree) — asserted exhaustively over all 16 mantissas."""
    for m in range(16):
        n = 1024 * m + 16764
        assert (n * 10**6) % 32768 != 16384, m  # no .5 tie at 6 decimals
        assert (1024 * m + 16896) % 512 == 0, m  # A-law level is dyadic k/64

    ids = [0, 3, 15, 16, 31, 4093]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ulaw = {
        r["media_id"]: r
        for r in MM.extract_audio_features(
            MM.plant_g711_media(df, "doc_id", law="ulaw")
        ).collect()
    }
    alaw = {
        r["media_id"]: r
        for r in MM.extract_audio_features(
            MM.plant_g711_media(df, "doc_id", law="alaw")
        ).collect()
    }
    for i in ids:
        m = i % 16
        r = ulaw[i]
        assert (r["ok"], r["channels"], r["bits"], r["sample_rate"]) == ("true", 1, 8, 8000)
        assert r["n_samples"] == 160 and r["duration_s"] == 0.02
        exp = round((1024 * m + 16764) / 32768, 6)
        assert r["peak"] == exp and r["rms"] == exp
        r = alaw[i]
        assert (r["ok"], r["channels"], r["bits"], r["sample_rate"]) == ("true", 2, 8, 8000)
        assert r["n_samples"] == 80 and r["duration_s"] == 0.01
        exp = (2 * m + 33) / 64
        assert r["peak"] == exp and r["rms"] == exp


def test_g711_encoder_roundtrip_nearest_level():
    """encode_g711_wav quantizes to the nearest decodable level: decoding
    its output must reproduce exactly the per-sample nearest table value
    (computed independently here), for both laws, across the full range."""
    import numpy as np

    samples = [int(x) for x in np.linspace(-32000, 32000, 257)]
    for law, table in (("ulaw", MM._ULAW_TABLE), ("alaw", MM._ALAW_TABLE)):
        payload = MM.encode_g711_wav(samples, 16000, law=law)
        got = MM.decode_wav(payload)
        assert got["ok"] and got["bits"] == 8 and got["sample_rate"] == 16000
        assert got["n_samples"] == len(samples)
        tab = np.asarray(table, dtype=np.int64)
        nearest = [int(tab[np.abs(tab - s).argmin()]) for s in samples]
        peak = max(abs(v) for v in nearest) / 32768.0
        rms = (sum(v * v for v in nearest) / len(nearest)) ** 0.5 / 32768.0
        assert got["peak"] == round(peak, 6) and got["rms"] == round(rms, 6)
        # companding error bound: within half the local step everywhere
        # (G.711 step at |x| is at most 1024 in 16-bit units at segment 7)
        assert max(abs(a - b) for a, b in zip(nearest, samples)) <= 512


def test_rle8_opcode_families_and_fail_closed():
    """B51 round-11 (second pass) RLE8 tier: every opcode family decodes
    per the public spec — encoded runs, absolute mode (word-padded),
    EOL, EOB, and delta (skipped pixels default to palette index 0) —
    and malformed streams (row-crossing runs, cursor escapes, missing
    EOB, truncated palettes) fail the whole clip closed."""
    # handcrafted 4x2 frame: delta to (2,1), 2-run of index 3, EOB —
    # 6 pixels skipped -> index 0
    counts = MM._decode_rle8_frame(bytes([0, 2, 2, 1, 2, 3, 0, 1]), 4, 2)
    assert counts == {3: 2, 0: 6}
    # absolute mode with odd literal count consumes its pad byte; the
    # unpainted 4th pixel of the first row defaults to index 0
    counts = MM._decode_rle8_frame(
        bytes([0, 3, 7, 8, 9, 0, 0, 0, 4, 1, 0, 1]), 4, 2
    )
    assert counts == {7: 1, 8: 1, 9: 1, 1: 4, 0: 1}
    import pytest

    for stream in (
        bytes([5, 1, 0, 1]),        # run crosses the 4-wide row
        bytes([4, 1, 0, 0]),        # EOL but no EOB
        bytes([0, 2, 9, 9, 0, 1]),  # delta escapes the grid
        bytes([0, 5, 1, 2, 3, 4, 5, 0, 0, 1]),  # absolute crosses row
    ):
        with pytest.raises(ValueError):
            MM._decode_rle8_frame(stream, 4, 2)

    # container level: palette index beyond declared biClrUsed fails closed
    pal = [(10, 20, 30), (40, 50, 60)]
    avi = MM.encode_avi_rle8([bytes([0, 1, 1, 0, 0, 0, 1, 1])], pal, 4, 2)
    assert MM.decode_avi(avi)["ok"]
    avi_bad = MM.encode_avi_rle8([bytes([0, 1, 5, 0, 0, 0, 1, 1])], pal, 4, 2)
    assert MM.decode_avi(avi_bad)["ok"] is False


def test_rle8_roundtrip_and_planted_tier(spark):
    """encode_avi_rle8 -> decode_avi round-trips exact channel sums on a
    random-ish indexed clip (independent longhand sums), and the q326
    planted tier equals the closed form its SQL oracle replays."""
    w, h = 12, 6
    pal = [((i * 31) % 256, (i * 57) % 256, (i * 93) % 256) for i in range(64)]
    frames = [
        bytes((x * 7 + y * 13 + f * 29) % 64 for y in range(h) for x in range(w))
        for f in range(3)
    ]
    d = MM.decode_avi(MM.encode_avi_rle8(frames, pal, w, h))
    assert d["ok"] and (d["width"], d["height"], d["n_frames"]) == (w, h, 3)
    exp = [0, 0, 0]
    for fr in frames:
        for v in fr:
            for c in range(3):
                exp[c] += pal[v][c]
    assert (d["sum_r"], d["sum_g"], d["sum_b"]) == tuple(exp)

    ids = [0, 1, 17, 255, 4093]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["media_id"]: r
        for r in MM.extract_video_features(
            MM.plant_avi_rle8_media(df, "doc_id")
        ).collect()
    }
    for mid in ids:
        r = got[mid]
        exp_r = sum(
            96 * ((3 * mid + 10 * f) % 256) + 32 * ((3 * mid + 10 * f + 5) % 256)
            for f in range(4)
        )
        assert r["ok"] == "true" and r["sum_r"] == exp_r and r["mean_r"] == exp_r / 512


def test_triangle_stats_known_graphs(spark):
    """triangle_stats on closed-form graphs: K4 (4 triangles, 12 wedges),
    a 4-cycle (0 triangles, 4 wedges), a star (0 triangles), and K4 plus
    a pendant vertex (degree ties exercise the orientation tie-break).
    clustering_ppm is the exact integer (3*t*1e6) DIV wedges."""
    from spark_s3_shuffle_spark.operators import graph as GR

    def run(edges):
        df = spark.createDataFrame(edges, "a long, b long")
        return GR.triangle_stats(df).collect()[0].asDict()

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    got = run(k4)
    assert got == {
        "n_nodes": 4, "n_edges": 6, "n_wedges": 12, "n_triangles": 4,
        "clustering_ppm": 1000000,
    }

    cycle = [(1, 2), (2, 3), (3, 4), (1, 4)]
    got = run(cycle)
    assert got["n_triangles"] == 0 and got["n_wedges"] == 4
    assert got["clustering_ppm"] == 0

    star = [(1, 2), (1, 3), (1, 4), (1, 5)]
    got = run(star)
    assert got["n_triangles"] == 0 and got["n_wedges"] == 6

    pendant = k4 + [(4, 5)]
    got = run(pendant)
    # K4's 4 triangles survive; wedges gain d(4)=4 -> C(4,2)=6 (+3) and
    # d(5)=1 contributes none: 12 - C(3,2) + 6 = 15... recompute directly:
    # degrees 3,3,3,4,1 -> 3+3+3+6+0 = 15
    assert got["n_triangles"] == 4 and got["n_wedges"] == 15
    assert got["clustering_ppm"] == (3 * 4 * 1000000) // 15

    # empty graph: one row of zeros, no division blowup
    got = run_empty = GR.triangle_stats(
        spark.createDataFrame([], "a long, b long")
    ).collect()[0].asDict()
    assert got["n_triangles"] == 0 and got["clustering_ppm"] == 0


def test_kmeans_quantized_planted_blobs(spark):
    """Two well-separated planted blobs: every vector must land with its
    blob's seed, centroids converge to the blob's exact integer mean,
    and the checksum equals the longhand sum — all replayed here with
    independent Python integer arithmetic (the same contract q328's
    DuckDB oracle replays in SQL)."""
    from spark_s3_shuffle_spark.operators import similarity as SIM

    dim = 4
    # ids 0,1 are the seeds (k=2): one from each blob
    rows = []
    for i in range(20):
        base = 0.4 if i % 2 == 0 else -0.4
        vec = [base + 0.01 * ((i + j) % 3) for j in range(dim)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = SIM.kmeans_quantized(df, k=2, iterations=2).collect()
    assert [r["cluster"] for r in got] == [0, 1]
    even = [i for i in range(20) if i % 2 == 0]
    odd = [i for i in range(20) if i % 2 == 1]
    assert got[0]["n_members"] == 10 and got[0]["sum_ids"] == sum(even)
    assert got[1]["n_members"] == 10 and got[1]["sum_ids"] == sum(odd)
    assert got[0]["min_id"] == 0 and got[1]["min_id"] == 1

    # longhand replay: quantize, assign to nearest of the two blob means
    def quant(vec):
        import math
        return [math.floor(float(np_round_exact(x)) * 512 + 0.5) + 512 for x in vec]

    def np_round_exact(x):
        import numpy as np
        return float(np.float32(x))  # what Spark stored as float

    qs = {i: quant(v) for i, v in rows}
    cents = [qs[0], qs[1]]
    for _ in range(2):
        sums = {0: [0] * dim, 1: [0] * dim}
        counts = {0: 0, 1: 0}
        for i, v in qs.items():
            d = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
            c = 0 if d[0] <= d[1] else 1
            sums[c] = [s + x for s, x in zip(sums[c], v)]
            counts[c] += 1
        cents = [
            [s // counts[j] for s in sums[j]] if counts[j] else cents[j]
            for j in (0, 1)
        ]
    for j in (0, 1):
        assert got[j]["centroid_checksum"] == sum(
            (p + 1) * v for p, v in enumerate(cents[j])
        )


def test_kmeans_quantized_tie_break_and_empty_cluster(spark):
    """Equidistant vectors go to the SMALLER cluster index (the declared
    tie rule), and a cluster that captures no members keeps its previous
    centroid instead of crashing or drifting."""
    from spark_s3_shuffle_spark.operators import similarity as SIM

    # seeds at ids 0 and 1; id 2 is exactly between them -> cluster 0
    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [0.25, 0.0]),  # quantizes to 128 vs 0: distinct seeds
            (2, [0.125, 0.0]),  # exactly midway on the lattice (64 units)
        ],
        "vec_id long, embedding array<float>",
    )
    got = SIM.kmeans_quantized(df, k=2, iterations=1).collect()
    by_c = {r["cluster"]: r for r in got}
    assert by_c[0]["n_members"] == 2 and by_c[0]["min_id"] == 0
    assert by_c[0]["sum_ids"] == 2  # ids 0 and 2: the tie went to cluster 0
    assert by_c[1]["n_members"] == 1 and by_c[1]["min_id"] == 1

    # k larger than distinct points: the duplicate-seed clusters beyond
    # the first go empty and keep their seed centroid (still reported
    # only if they win points — tie rule sends everything to index 0/1)
    df2 = spark.createDataFrame(
        [(0, [0.1, 0.1]), (1, [0.1, 0.1]), (2, [0.1, 0.1])],
        "vec_id long, embedding array<float>",
    )
    got2 = SIM.kmeans_quantized(df2, k=3, iterations=2).collect()
    assert len(got2) == 1 and got2[0]["cluster"] == 0
    assert got2[0]["n_members"] == 3 and got2[0]["sum_ids"] == 3


def test_kmeans_quantized_assignment_is_vectorized(spark):
    """The assignment stage must be VECTORIZED, never row-at-a-time
    Python: ArrowEvalPython (the batched numpy matmul — r11-opt) is the
    accepted shape, BatchEvalPython (scalar pickled rows) is the 100 TB
    anti-pattern. (The previous all-JVM literal-expression form was
    dropped after measurement: baking centroid literals into the plan
    re-compiled a fresh codegen source every round, ~6 s of janino at
    k=8/dim=64, and higher-order-function lambdas evaluate interpreted —
    see _nearest_centroid_udf.)"""
    from spark_s3_shuffle_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(i, [0.01 * i, -0.01 * i]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    plan = SIM.kmeans_quantized(df, k=2, iterations=1)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # no scalar-Python path
    assert "ArrowEvalPython" in plan      # the batched matmul assignment


def test_bpe_train_learns_planted_merge_order(spark):
    """B50 real BPE: on the q329 planted corpus the merge sequence is
    forced to [ab, aa, bb, ba] by construction (margins 4*n2 > 3*n0 >
    2*n1 > n3, strict once every class has >= 4 docs, i.e. n >= 16 —
    the smallest fixture has 500), under the deterministic tie rule."""
    from spark_s3_shuffle_spark.operators import text as TX

    for n in (16, 40, 41, 42, 43):  # class-count remainders 0..3 covered
        rows = [
            (i, ["aa aa aa", "bb bb", "ab ab ab ab", "ba"][i % 4]) for i in range(n)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        merges = TX.bpe_train(df, num_merges=4)
        assert merges == [("a", "b"), ("a", "a"), ("b", "b"), ("b", "a")], (n, merges)


def test_bpe_train_lineage_collapse_preserves_merges(spark, monkeypatch):
    """The periodic lineage collapse (r12-opt: localCheckpoint every
    _BPE_CHECKPOINT_EVERY merges) must not change the learned merge
    sequence — force the collapse to fire mid-run (every 2 of 4 merges)
    and compare against the planted expectation."""
    from spark_s3_shuffle_spark.operators import text as TX

    monkeypatch.setattr(TX, "_BPE_CHECKPOINT_EVERY", 2)
    rows = [
        (i, ["aa aa aa", "bb bb", "ab ab ab ab", "ba"][i % 4]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = TX.bpe_train(df, num_merges=4)
    assert merges == [("a", "b"), ("a", "a"), ("b", "b"), ("b", "a")]


def test_bpe_segment_matches_canonical_rule():
    """bpe_segment applies the LOWEST-RANK pair first (canonical BPE
    inference), not left-to-right: with ranks {bc:0, ab:1}, 'abc' must
    become [a, bc] — a left-to-right scan would produce [ab, c]."""
    from spark_s3_shuffle_spark.operators import text as TX

    ranks = {("b", "c"): 0, ("a", "b"): 1}
    assert TX.bpe_segment("abc", ranks) == ["a", "bc"]
    # chained merges: ab + c only if ('ab','c') itself has a rank
    ranks2 = {("a", "b"): 0, ("ab", "c"): 1}
    assert TX.bpe_segment("abc", ranks2) == ["abc"]
    assert TX.bpe_segment("x", ranks2) == ["x"]
    assert TX.bpe_segment("", ranks2) == []


def test_bpe_real_corpus_invariants(spark, sf_dir):
    """Training on the real documents table: merges are distinct ordered
    pairs of existing symbols; encoding is a proper coarsening — every
    doc's BPE token count is <= its character count and >= its word
    count, and re-segmenting each word longhand reproduces the
    distributed counts exactly."""
    from spark_s3_shuffle_spark.operators import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    merges = TX.bpe_train(docs, num_merges=6)
    assert len(merges) == 6 and len(set(merges)) == 6
    ranks = {m: i for i, m in enumerate(merges)}
    got = {r["doc_id"]: r["n_tokens"] for r in TX.bpe_token_counts(docs, merges).collect()}
    for row in docs.select("doc_id", "text").collect():
        words = [w for w in row["text"].lower().split(" ") if w]
        exp = sum(len(TX.bpe_segment(w, ranks)) for w in words)
        assert got[row["doc_id"]] == exp
        assert len(words) <= exp <= sum(len(w) for w in words)


def test_salted_join_equals_plain_join_and_spreads_hot_key(spark):
    """salted_join is a pure physical rewrite: result == plain join on a
    planted-skew input (one key carrying 90% of rows), for inner AND
    left-outer (unmatched rows surface exactly once); and the hot key's
    rows actually spread across all salt buckets within a loose
    binomial band — the property the operator exists for."""
    from pyspark.sql import functions as F

    from spark_s3_shuffle_spark.operators import skew as SK

    n_hot, buckets = 4000, 8
    rows = [(1, i) for i in range(n_hot)] + [(k, 10_000 + k) for k in range(2, 50)]
    fact = spark.createDataFrame(rows, "k long, payload long")
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 40)], "k long, attr string"
    )

    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in SK.salted_join(fact, dim, "k", how, salt=buckets).collect()
        )
        exp = sorted(tuple(r) for r in fact.join(dim, "k", how).collect())
        assert got == exp, how

    # spread: per-salt share of the hot key within [1/4x, 4x] of n/B
    salts = (
        SK.with_salt(fact.where(F.col("k") == 1), buckets)
        .groupBy("_salt").count().collect()
    )
    assert len(salts) == buckets
    for r in salts:
        assert n_hot / buckets / 4 <= r["count"] <= n_hot / buckets * 4

    # determinism: two runs derive identical salted assignments
    a = SK.salted_join(fact, dim, "k", salt=buckets).orderBy("payload").collect()
    b = SK.salted_join(fact, dim, "k", salt=buckets).orderBy("payload").collect()
    assert a == b


def test_label_centroid_profile_longhand(spark):
    """label_centroid_profile on a tiny planted frame vs a longhand
    integer replay: centroids, checksum, dispersion, and the nn_label
    tie rule (equidistant other-labels -> smaller label id)."""
    from spark_s3_shuffle_spark.operators import similarity as SIM

    rows = [
        (0, 0, [0.0, 0.0]),
        (1, 0, [0.0, 0.25]),      # label 0: q = (512,512),(512,640) -> cent (512,576)
        (2, 1, [0.25, 0.0]),      # label 1: cent (640,512)
        (3, 2, [-0.25, 0.0]),     # label 2: cent (384,512)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    got = {r["label"]: r for r in SIM.label_centroid_profile(df).collect()}
    assert got[0]["n_vecs"] == 2 and got[0]["sum_ids"] == 1
    # label 0 dispersion: (512,512) and (512,640) to (512,576): 64^2 each
    assert got[0]["intra_ss"] == 2 * 64 * 64
    assert got[1]["intra_ss"] == 0 and got[2]["intra_ss"] == 0
    assert got[0]["centroid_checksum"] == 512 * 1 + 576 * 2
    # nn: label 1 (640,512) vs label 0 (512,576): 128^2+64^2 = 20480;
    # vs label 2 (384,512): 256^2 = 65536 -> nn_label 0
    assert got[1]["nn_label"] == 0
    # label 0 is EQUIDISTANT from 1 and 2? d(0,1)=20480, d(0,2)=128^2+64^2
    # = 20480 -> tie -> smaller label 1
    assert got[0]["nn_label"] == 1
    assert got[2]["nn_label"] == 0


def test_operators_degenerate_inputs(spark):
    """Production hardening: empty and degenerate inputs flow through the
    new tiers without crashing and with sensible results."""
    from spark_s3_shuffle_spark.operators import graph as GR
    from spark_s3_shuffle_spark.operators import pipeline as PL
    from spark_s3_shuffle_spark.operators import sketch as SK
    from spark_s3_shuffle_spark.operators.maintenance import snapshot_diff

    empty = spark.createDataFrame([], "k long, v double")
    assert SK.bottomk_quantiles(empty, "v", ["k"], [0.5], k=16).collect() == []
    assert SK.hll_distinct_by_key(empty, ["k"], "v").collect() == []

    e = spark.createDataFrame([], "src long, dst long, w long")
    assert GR.pagerank_fixed(e, iterations=2).collect() == []

    # k larger than the frame: the whole frame survives
    small = spark.range(0, 5).select(F.col("id").alias("k"), F.lit(2).alias("w"))
    assert {r["k"] for r in PL.weighted_sample(small, ["k"], "w", 100).collect()} == set(range(5))

    # quantiles of a 1-row frame: every q returns that row's value
    one = spark.range(1).select(F.col("id").alias("k"), F.lit(7.5).alias("v"))
    got = SK.bottomk_quantiles(one, "v", ["k"], [0.25, 0.9], k=16).collect()
    assert [r["v"] for r in got] == [7.5, 7.5]

    # docs below the bigram threshold simply vanish from coverage output
    docs = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two tokens two tokens two tokens")],
        "doc_id long, text string",
    )
    cov = {r["doc_id"] for r in T.bigram_coverage(docs).collect()}
    assert cov == {3}

    # snapshot_diff with key-only tables: everything common is unchanged
    a = spark.range(0, 4).withColumnRenamed("id", "k")
    b = spark.range(2, 6).withColumnRenamed("id", "k")
    st = {r["k"]: r["status"] for r in snapshot_diff(a, b, ["k"]).collect()}
    assert st == {0: "removed", 1: "removed", 2: "unchanged", 3: "unchanged", 4: "added", 5: "added"}


def test_hll_by_key_shuffle_bounded_vs_exact_distinct(spark):
    """B81's scale claim, measured: the per-group HLL register aggregate
    shuffles at most |groups| x 256 rows (map-side MAX combine), while
    exact countDistinct's first exchange carries every distinct
    (group, value) pair. Asserted from task-level shuffleRead metrics."""
    import uuid

    from spark_s3_shuffle_spark.operators.sketch import hll_distinct_by_key

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    n, groups = 400_000, 4
    # high-cardinality values: ~100k distinct per group
    df = spark.range(n).select(
        (F.col("id") % groups).alias("g"), F.floor(F.col("id") / groups).cast("long").alias("v")
    ).persist()
    df.count()
    confs = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sc.setJobGroup(f"exact-{tag}", "exact countDistinct per group")
        df.groupBy("g").agg(F.countDistinct("v")).collect()
        sc.setJobGroup(f"hll-{tag}", "per-group HLL registers")
        hll_distinct_by_key(df, ["g"], "v").collect()
        sc.setJobGroup(f"done-{tag}", "")
        exact_rows = sum(_task_shuffle_reads(spark, f"exact-{tag}"))
        hll_rows = sum(_task_shuffle_reads(spark, f"hll-{tag}"))
        # exact: ~n distinct (g, v) pairs cross the wire; HLL: bounded by
        # |groups| * 256 per UPSTREAM PARTITION on the first exchange plus
        # the |groups|*256-row fold — measured 32,800 at 32 partitions,
        # matching the bound exactly. The gap grows with n (exact scales
        # with distinct pairs, the sketch does not).
        assert exact_rows >= n // 2, exact_rows
        upstream = df.rdd.getNumPartitions()
        assert hll_rows <= groups * 256 * (upstream + 2), (hll_rows, upstream)
        assert hll_rows * 8 <= exact_rows, (exact_rows, hll_rows)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        df.unpersist()


def test_interpolation_exact_at_observation_points(spark):
    """q141's operator semantics pinned at the boundaries: a grid point
    coinciding exactly with an observation returns that observation's
    value (frac = 0), points before the first observation are NULL, and
    points after the last hold flat."""
    rows = [
        (1, "2024-01-01 02:00:00", 10.0),
        (1, "2024-01-01 04:00:00", 30.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.select("user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "value")
    from spark_s3_shuffle_spark.queries.registry import QUERIES  # noqa: F401

    # reuse the q141 interleave inline: grid hours 00..05
    obs = df.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "value",
        F.lit(0).alias("is_grid"),
        F.lit(None).cast("timestamp_ntz").alias("hour"),
    )
    hours = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2024-01-01 05:00:00").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour")
    )
    grid = df.select("user_id").distinct().crossJoin(hours).select(
        "user_id",
        F.unix_micros(F.col("hour").cast("timestamp")).alias("t_us"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_grid"),
        "hour",
    )
    both = grid.unionByName(obs)
    from pyspark.sql import Window as W2

    back = W2.partitionBy("user_id").orderBy("t_us", "is_grid").rowsBetween(W2.unboundedPreceding, W2.currentRow)
    fwd = W2.partitionBy("user_id").orderBy("t_us", "is_grid").rowsBetween(W2.currentRow, W2.unboundedFollowing)
    obs_t = F.when(F.col("value").isNotNull(), F.col("t_us"))
    w = both.select(
        "user_id", "t_us", "hour", "is_grid",
        F.last("value", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_t, ignorenulls=True).over(back).alias("pt"),
        F.first("value", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_t, ignorenulls=True).over(fwd).alias("nt"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("t_us") - F.col("pt")).cast("double") / (F.col("nt") - F.col("pt")).cast("double")
    )
    val = (
        F.when(F.col("pv").isNull(), F.lit(None).cast("double"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(lerp)
    )
    got = {
        r["hour"].hour: r["v"]
        for r in w.filter(F.col("is_grid") == 1)
        .select("hour", F.round(val, 2).alias("v"))
        .collect()
    }
    assert got[0] is None and got[1] is None      # before first obs
    assert got[2] == 10.0                         # exactly at obs
    assert got[3] == 20.0                         # true midpoint
    assert got[4] == 30.0                         # exactly at obs
    assert got[5] == 30.0                         # hold after last


def test_hll_set_algebra_intersection_band(spark):
    """q158's algebra sanity-checked on controlled sets: the inclusion-
    exclusion intersection estimate of two overlapping populations lands
    within the 3-sketch error band of the true overlap."""
    from spark_s3_shuffle_spark.operators.sketch import hll_distinct

    a = spark.range(0, 6000).withColumnRenamed("id", "k")          # [0, 6000)
    b = spark.range(4000, 12000).withColumnRenamed("id", "k")      # [4000, 12000)
    u = a.unionByName(b)
    ea = hll_distinct(a, "k").first()["hll_estimate"]
    eb = hll_distinct(b, "k").first()["hll_estimate"]
    eu = hll_distinct(u, "k").first()["hll_estimate"]
    inter = ea + eb - eu
    true = 2000
    # three b=8 sketches, sigma ~6.5% each; the difference amplifies
    # absolute error, so allow 3 * sigma * (|A| + |B| + |U|) worst case
    band = 3 * 0.065 * (6000 + 8000 + 12000) ** 0.5 * 10  # generous
    assert abs(inter - true) < max(band, 0.35 * (6000 + 8000)), (inter, true)
    # determinism: identical rerun gives identical composed estimate
    ea2 = hll_distinct(a.repartition(5), "k").first()["hll_estimate"]
    assert ea2 == ea


# ---------------------------------------------------------------------------
# Distributed prefix aggregates (round-6: the single-task window killers)
# ---------------------------------------------------------------------------


def _prefix_fixture(spark):
    """10k rows with ties (grp has 311 levels), NULLs in the value column,
    and exact decimals — every edge the single-task window handles."""
    return spark.range(10007).select(
        F.col("id").alias("k"),
        (F.col("id") % 311).alias("grp"),
        F.when(F.col("id") % 53 == 0, None)
        .otherwise((F.col("id") * 7 % 997).cast("decimal(18,6)"))
        .alias("v"),
    )


def test_global_row_number_matches_single_task_window(spark):
    from pyspark.sql import Window

    from spark_s3_shuffle_spark.operators import prefix as PX

    df = _prefix_fixture(spark)
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("grp", "k"))
    ).select("k", "rn")
    got = PX.global_row_number(df, ["grp", "k"]).select("k", "rn")
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_global_ntile_matches_spark_ntile_all_fills(spark):
    """NTILE's uneven fill (first n%k buckets take one extra row) must
    reproduce Spark's exactly — including k > n where every row is its
    own bucket."""
    from pyspark.sql import Window

    from spark_s3_shuffle_spark.operators import prefix as PX

    df = _prefix_fixture(spark)
    for k in (4, 13, 20000):
        want = df.withColumn(
            "b", F.ntile(k).over(Window.orderBy("grp", "k"))
        ).select("k", "b")
        got = PX.global_ntile(df, k, ["grp", "k"], out="b").select("k", "b")
        mism = (
            want.join(got.withColumnRenamed("b", "b2"), "k")
            .filter("b != b2")
            .count()
        )
        assert mism == 0, f"ntile({k}): {mism} mismatches"


def test_global_ntiles_matches_per_order_ntile_joins(spark):
    """The shared-materialization multi-NTILE (r12-opt, q160's shape)
    must reproduce the single-task NTILE per order AND the join-form
    recombination row-for-row — NULL-ordering, decimal order columns and
    the uneven fill included."""
    from pyspark.sql import Window

    from spark_s3_shuffle_spark.operators import prefix as PX

    df = _prefix_fixture(spark)
    specs = {"a": ["grp", "k"], "b": [F.desc("v"), "k"], "c": ["v", "k"]}
    got = PX.global_ntiles(df, 4, specs, key=["k"])
    want = df.select(
        "k",
        F.ntile(4).over(Window.orderBy("grp", "k")).alias("a"),
        F.ntile(4).over(Window.orderBy(F.desc("v"), "k")).alias("b"),
        F.ntile(4).over(Window.orderBy("v", "k")).alias("c"),
    )
    mism = (
        want.join(
            got.select(
                "k",
                F.col("a").alias("a2"),
                F.col("b").alias("b2"),
                F.col("c").alias("c2"),
            ),
            "k",
        )
        .filter("a != a2 OR b != b2 OR c != c2")
        .count()
    )
    assert mism == 0
    assert got.count() == df.count()


def test_running_sum_and_strict_max_match_windows(spark):
    """Running decimal sum (desc order + tiebreak) and strict-preceding
    max — NULL semantics included (sum skips NULLs; max of an empty
    preceding frame is NULL) — match the single-task windows row-for-row."""
    from pyspark.sql import Window

    from spark_s3_shuffle_spark.operators import prefix as PX

    df = _prefix_fixture(spark)
    w = Window.orderBy(F.desc("v"), "k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("cum", F.sum("v").over(w)).select("k", "cum")
    got = PX.running_sum(df, [F.desc("v"), "k"], "v").select("k", "cum")
    assert (
        want.join(got.withColumnRenamed("cum", "c2"), "k")
        .filter("NOT (cum <=> c2)")
        .count()
        == 0
    )

    w2 = Window.orderBy(F.desc("grp"), "k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = df.withColumn("pm", F.max("v").over(w2)).select("k", "pm")
    got = PX.running_max_strictly_preceding(
        df, [F.desc("grp"), "k"], "v", out="pm"
    ).select("k", "pm")
    assert (
        want.join(got.withColumnRenamed("pm", "p2"), "k")
        .filter("NOT (pm <=> p2)")
        .count()
        == 0
    )


def test_prefix_total_as_matches_separate_aggregate(spark):
    """total_as (r12-opt) rides the grand total / global count on the
    offsets broadcast — every row must carry EXACTLY the value a
    separate df.agg() computes (decimal grand total incl. NULL skipping;
    long row count), because the callers it replaces (q173/q214/q215)
    feed it into exact integer/decimal cutoff arithmetic."""
    from spark_s3_shuffle_spark.operators import prefix as PX

    df = _prefix_fixture(spark)
    want_total = df.agg(F.sum("v")).collect()[0][0]
    got = PX.running_sum(df, [F.desc("v"), "k"], "v", total_as="tot")
    rows = got.select("tot").distinct().collect()
    assert len(rows) == 1 and rows[0]["tot"] == want_total
    assert got.count() == df.count()

    want_n = df.count()
    got_rn = PX.global_row_number(df, ["grp", "k"], total_as="n")
    nrows = got_rn.select("n").distinct().collect()
    assert len(nrows) == 1 and nrows[0]["n"] == want_n
    # rn itself is untouched by the total column
    assert got_rn.agg(F.max("rn")).collect()[0][0] == want_n


def test_prefix_aggregates_avoid_single_task_funnel(spark):
    """The scale claim, measured from task-level shuffle-read metrics: a
    single-task NTILE window funnels ALL n rows through one task, while
    global_ntile's worst task reads a small multiple of n/P (range shard
    plus balls-in-bins pid collisions). Same machinery as the export and
    skew straggler tests."""
    import uuid

    from pyspark.sql import Window

    from spark_s3_shuffle_spark.operators import prefix as PX

    sc = spark.sparkContext
    n = 400_000
    tag = uuid.uuid4().hex[:8]
    # 32 range shards: worst distributed task = a few 12.5k shards that
    # collide in the pid hash (balls-in-bins, a small constant factor),
    # vs the single-task window's full 400k.
    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "32",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    df = spark.range(n).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("srt")
    ).persist()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df.count()
        sc.setJobGroup(f"single-{tag}", "single-task ntile window")
        df.withColumn(
            "b", F.ntile(4).over(Window.orderBy("srt", "k"))
        ).groupBy("b").count().collect()
        sc.setJobGroup(f"dist-{tag}", "distributed two-phase ntile")
        PX.global_ntile(df, 4, ["srt", "k"], out="b").groupBy(
            "b"
        ).count().collect()
        sc.setJobGroup(f"done-{tag}", "")
        single_max = max(_task_shuffle_reads(spark, f"single-{tag}"))
        dist_max = max(_task_shuffle_reads(spark, f"dist-{tag}"))
        assert single_max >= n, single_max
        assert dist_max * 4 <= single_max, (single_max, dist_max)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        sc.setJobGroup("", "")
        df.unpersist()


def _run_prefix(spark, docs, monkeypatch):
    from spark_s3_shuffle_spark.operators import prefix as PX

    df = _prefix_fixture(spark)
    PX.global_ntile(df, 4, ["grp", "k"], out="b").count()
    PX.running_sum(df, ["grp", "k"], "v").count()


def _run_bpe_train(spark, docs, monkeypatch):
    T.bpe_train(docs, num_merges=3)


def _run_bpe_train_interrupted(spark, docs, monkeypatch):
    # a zero collapse period raises right after the first round's action,
    # i.e. after the word frame is materialized and before training ends
    monkeypatch.setattr(T, "_BPE_CHECKPOINT_EVERY", 0)
    with pytest.raises(ZeroDivisionError):
        T.bpe_train(docs, num_merges=3)


def _run_minhash_dedup(spark, docs, monkeypatch):
    D.minhash_dedup(docs, num_hashes=32, bands=16).count()


def _run_pagerank(spark, docs, monkeypatch):
    from spark_s3_shuffle_spark.operators import graph as GR

    raw = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]
    edges = GR.edge_weights(spark.createDataFrame(raw, "a long, b long"), "a", "b")
    GR.pagerank_fixed(edges, iterations=3).count()


@pytest.mark.parametrize(
    "run",
    [_run_prefix, _run_bpe_train, _run_bpe_train_interrupted, _run_minhash_dedup, _run_pagerank],
    ids=["prefix", "bpe_train", "bpe_train_interrupted", "minhash_dedup", "pagerank"],
)
def test_primitives_leave_no_cache_entry(spark, docs, monkeypatch, run):
    """Multi-job primitives pin their intermediates through
    ``materialize``, which registers NOTHING in Catalyst's CacheManager —
    a bench sweep over dozens of such queries must not accumulate
    session-lifetime cached frames, and neither may a primitive that
    raises half-way."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()
    run(spark, docs, monkeypatch)
    assert cm.isEmpty(), "primitives must not register cache entries"


#: The only calls allowed to pin a frame: the materialization helper and
#: the IVF index (a long-lived in-memory index with its own unpersist).
_PIN_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache"}
_PIN_ALLOWED = {
    ("operators/materialize.py", "materialize"),
    ("operators/similarity.py", "build_ivf_index"),
    ("operators/similarity.py", "extend_ivf_index"),
}


def test_materialization_goes_through_one_helper():
    """Every ``.localCheckpoint(`` / ``.checkpoint(`` / ``.persist(`` /
    ``.cache()`` call in the package sits in ``operators/materialize.py``
    or at the IVF index build sites, so the materialization policy has one
    switch point."""
    import ast
    import pathlib

    import spark_s3_shuffle_spark

    root = pathlib.Path(spark_s3_shuffle_spark.__file__).parent
    found = []  # (module, enclosing function, method, line)
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        stack = [(ast.parse(path.read_text(), str(path)), None)]
        while stack:
            node, func = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _PIN_CALLS
            ):
                found.append((rel, func, node.func.attr, node.lineno))
            stack.extend((child, func) for child in ast.iter_child_nodes(node))
    stray = sorted(f for f in found if f[:2] not in _PIN_ALLOWED)
    assert not stray, stray
    assert ("operators/materialize.py", "materialize") in {f[:2] for f in found}


def test_quantized_batch_join_null_ragged_and_empty_probes(spark):
    """ADVICE r8 hardening: NULL / wrong-length corpus vectors drop per-row
    (the Column-expression form's NULL propagation) instead of crashing the
    numpy scorer, and an empty/all-NULL probes frame raises a clear error."""
    from pyspark.sql import Row

    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[0.9, 0.1, 0.0]),
            Row(vec_id=3, embedding=None),
            Row(vec_id=4, embedding=[1.0, 0.0]),  # ragged: wrong dim
            Row(vec_id=5, embedding=[0.0, 1.0, 0.0]),
        ],
        schema="vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [Row(probe_id=10, embedding=[1.0, 0.0, 0.0])],
        schema="probe_id long, embedding array<double>",
    )
    rows = SIM.quantized_batch_topk_join(
        corpus, probes, k=3, probe_id_col="probe_id"
    ).collect()
    ids = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert 3 not in ids and 4 not in ids  # null/ragged never become candidates
    assert ids[0] == 1 and set(ids) == {1, 2, 5}

    with pytest.raises(ValueError, match="empty"):
        SIM.quantized_batch_topk_join(
            probes.filter(F.lit(False)).select("probe_id", "embedding").crossJoin(
                corpus.select("vec_id")
            ).select("vec_id", "embedding"),
            probes.filter(F.lit(False)),
            k=3,
            probe_id_col="probe_id",
        )
    with pytest.raises(ValueError, match="NULL"):
        SIM.quantized_batch_topk_join(
            corpus,
            spark.createDataFrame(
                [Row(probe_id=10, embedding=None)],
                schema="probe_id long, embedding array<double>",
            ),
            k=3,
            probe_id_col="probe_id",
        )
    with pytest.raises(ValueError, match="mixed"):
        SIM.quantized_batch_topk_join(
            corpus,
            spark.createDataFrame(
                [
                    Row(probe_id=10, embedding=[1.0, 0.0, 0.0]),
                    Row(probe_id=11, embedding=[1.0, 0.0]),
                ],
                schema="probe_id long, embedding array<double>",
            ),
            k=3,
            probe_id_col="probe_id",
        )


def test_quantize_vectors_null_and_ragged_propagate(spark):
    """quantize_vectors maps NULL / non-finite vectors to NULL per row and
    quantizes ragged lengths independently (each vector's scale is its own)."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[2.0, -1.0, 0.5]),
            Row(vec_id=2, embedding=None),
            Row(vec_id=3, embedding=[4.0, -4.0]),  # ragged but valid
            Row(vec_id=4, embedding=[1.0, float("nan"), 0.0]),
        ],
        schema="vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r["qvec"] for r in SIM.quantize_vectors(df).collect()}
    assert rows[2] is None and rows[4] is None
    assert rows[1] == [127, -64, 32]
    assert rows[3] == [127, -127]


def test_png_codec_roundtrip_all_color_types():
    """B51 round-10: the PNG seam is CLOSED — stdlib-zlib decode with
    CRC-checked chunks and full five-filter reconstruction. The encoder
    cycles every row filter (None/Sub/Up/Average/Paeth), so a round trip
    at height >= 5 proves every un-filter path against exact per-channel
    sums; corrupt/unsupported streams must fail closed (ok=False), never
    decode silently."""
    import random

    rng = random.Random(7)
    for ct, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        w, h = 13, 11  # odd stride, h > 5: all five filters hit real deltas
        raw = bytes(rng.randrange(256) for _ in range(w * h * ch))
        d = MM.decode_png(MM.encode_png(raw, w, h, ct))
        assert d["ok"] and (d["width"], d["height"]) == (w, h), (ct, d)
        assert d["sum_r"] == sum(raw[0::ch])
        if ct in (2, 6):
            assert (d["sum_g"], d["sum_b"]) == (sum(raw[1::ch]), sum(raw[2::ch]))
        else:  # gray: r=g=b
            assert d["sum_g"] == d["sum_b"] == d["sum_r"]
        if ct in (4, 6):  # alpha mean present and exact
            a = raw[ch - 1 :: ch]
            assert d["mean_a"] == sum(a) / (w * h)
        else:
            assert d["mean_a"] is None
    # palette (color type 3): sums resolve THROUGH the palette
    pal = bytes(range(48))
    idx = bytes(i % 16 for i in range(13 * 11))
    d = MM.decode_png(MM.encode_png(idx, 13, 11, 3, palette=pal))
    assert d["ok"] and d["sum_r"] == sum(pal[(i % 16) * 3] for i in range(13 * 11))
    # failure modes: CRC tamper, truncation, junk, None
    good = bytearray(MM.encode_png(bytes(range(48)) * 2, 4, 8, 2))
    tampered = bytearray(good)
    tampered[45] ^= 0xFF  # inside IDAT body -> CRC mismatch
    assert MM.decode_png(bytes(tampered))["ok"] is False
    assert MM.decode_png(bytes(good[:40]))["ok"] is False
    assert MM.decode_png(b"not a png")["ok"] is False
    assert MM.decode_png(None)["ok"] is False
    # unsupported shapes fail closed: 16-bit depth / Adam7 interlace flags
    import struct
    import zlib

    def rechunk(depth, interlace):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 0, 0, 0, interlace)
        body = zlib.compress(b"\x00\x01\x02\x00\x03\x04")
        png = MM._PNG_SIG
        for ctype, data in ((b"IHDR", ihdr), (b"IDAT", body), (b"IEND", b"")):
            png += (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))
        return png

    assert MM.decode_png(rechunk(16, 0))["ok"] is False
    assert MM.decode_png(rechunk(8, 1))["ok"] is False


def test_png_decode_spark_path(spark):
    """The planted-PNG generator + extractor compose through the one
    Arrow scan with exact planted statistics, and corrupt payloads
    ride the same scan as ok=False rows (no task failure)."""
    df = spark.createDataFrame([(5,), (1234,)], "doc_id long")
    feats = {
        r["media_id"]: r
        for r in MM.extract_png_features(MM.plant_png_media(df, "doc_id")).collect()
    }
    for mid in (5, 1234):
        exp_r = sum((mid + 3 * x + 5 * y) % 256 for y in range(8) for x in range(16))
        assert feats[mid]["ok"] == "true"
        assert (feats[mid]["width"], feats[mid]["height"], feats[mid]["color_type"]) == (16, 8, 2)
        assert feats[mid]["sum_r"] == exp_r and feats[mid]["mean_r"] == exp_r / 128
    bad = spark.createDataFrame(
        [(9, bytearray(b"\x89PNG\r\n\x1a\nbroken")), (10, None)],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r["ok"] for r in MM.extract_png_features(bad).collect()}
    assert got == {9: "false", 10: "false"}


def test_jpeg_codec_tiers():
    """B51 round-10 (second seam): baseline JPEG per ITU-T T.81 on pure
    numpy — three tiers: (1) the LOSSLESS tier (block-constant image,
    flat step-8 quant table) round-trips EXACTLY (DC-only blocks, exact
    quantization — the q319 oracle contract); (2) the lossy tier (Annex K
    tables) lands within tight mean tolerance on gray/color/4:2:0;
    (3) unsupported/corrupt streams fail closed."""
    import numpy as np

    from spark_s3_shuffle_spark.operators.jpeg import (
        QTAB_FLAT8, decode_jpeg, encode_jpeg,
    )

    rng = np.random.RandomState(3)
    blocks = rng.randint(0, 256, size=(3, 4))
    img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype(np.uint8)
    d = decode_jpeg(encode_jpeg(img, quant_luma=QTAB_FLAT8))
    assert d["ok"] and (d["width"], d["height"], d["channels"]) == (32, 24, 1)
    assert d["sum_r"] == int(img.sum())  # EXACT through the full codec

    # lossy tier: smooth gray + flat color, 4:4:4 and 4:2:0, odd dims
    x = np.linspace(0, 4 * np.pi, 64)
    smooth = (127 + 100 * np.sin(x)[None, :] * np.cos(x)[:, None]).astype(np.uint8)
    d2 = decode_jpeg(encode_jpeg(smooth))
    assert d2["ok"] and abs(d2["mean_r"] - smooth.mean()) < 2.0
    rgb = np.zeros((19, 11, 3), dtype=np.uint8)
    rgb[..., 0], rgb[..., 1], rgb[..., 2] = 200, 50, 120
    for sub in (False, True):
        d3 = decode_jpeg(encode_jpeg(rgb, subsample=sub))
        assert d3["ok"] and (d3["width"], d3["height"], d3["channels"]) == (11, 19, 3)
        assert abs(d3["mean_r"] - 200) < 3 and abs(d3["mean_g"] - 50) < 3
        assert abs(d3["mean_b"] - 120) < 3

    # fail closed: None / junk / truncation / progressive marker
    assert decode_jpeg(None)["ok"] is False
    assert decode_jpeg(b"not a jpeg")["ok"] is False
    good = encode_jpeg(img, quant_luma=QTAB_FLAT8)
    assert decode_jpeg(good[:40])["ok"] is False
    progressive = bytearray(good)
    sof = progressive.find(b"\xFF\xC0")
    progressive[sof + 1] = 0xC2  # SOF0 -> SOF2
    assert decode_jpeg(bytes(progressive))["ok"] is False


def test_jpeg_decode_spark_path(spark):
    """Planted-JPEG generator + extractor through the one Arrow scan:
    exact planted sums, and corrupt payloads ride the same scan as
    ok=False rows."""
    df = spark.createDataFrame([(3,), (7331,)], "doc_id long")
    feats = {
        r["media_id"]: r
        for r in MM.extract_jpeg_features(MM.plant_jpeg_media(df, "doc_id")).collect()
    }
    for mid in (3, 7331):
        exp = sum(
            64 * ((mid * 11 + 37 * bx + 73 * by) % 256)
            for by in range(2) for bx in range(4)
        )
        assert feats[mid]["ok"] == "true"
        assert (feats[mid]["width"], feats[mid]["height"], feats[mid]["channels"]) == (32, 16, 1)
        assert feats[mid]["sum_r"] == exp and feats[mid]["mean_r"] == exp / 512
    bad = spark.createDataFrame(
        [(9, bytearray(b"\xFF\xD8broken")), (10, None)],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r["ok"] for r in MM.extract_jpeg_features(bad).collect()}
    assert got == {9: "false", 10: "false"}


def test_materialize_before_sort_equivalent(spark):
    """Materializing a media feature frame before its global sort (decode
    once, then sort the narrow feature rows) is a pure recompute cut: the
    ordered rows are the ones the unpinned sort produced."""
    df = spark.createDataFrame([(i,) for i in (9, 2, 41, 0, 17)], "doc_id long")
    rows = [
        tuple(r)
        for r in materialize(
            MM.extract_jpeg_features(MM.plant_jpeg_media(df, "doc_id"))
        ).orderBy("media_id").collect()
    ]
    # (media_id, ok, width, height, channels, sum_r/g/b, mean_r/g/b)
    assert rows == [
        (mid, "true", 32, 16, 1, s, s, s, s / 512, s / 512, s / 512)
        for mid, s in ((0, 47104), (2, 58368), (9, 81408), (17, 44544), (41, 48640))
    ]


def test_avi_codec_roundtrip_and_failure_modes():
    """B51 round-10 (third seam): uncompressed AVI decode is REAL — RIFF
    chunk walk, raw bottom-up BGR DIB frames with 4-byte stride padding.
    Random-content round trip is EXACT (nothing is lossy); compressed
    ('00dc') frames, truncation, and junk fail closed."""
    import random

    rng = random.Random(9)
    w, h = 5, 3  # odd width: stride padding exercised
    frames = [bytes(rng.randrange(256) for _ in range(w * h * 3)) for _ in range(2)]
    d = MM.decode_avi(MM.encode_avi_rgb(frames, w, h))
    assert d["ok"] and (d["width"], d["height"], d["n_frames"]) == (w, h, 2)
    assert d["sum_r"] == sum(sum(f[0::3]) for f in frames)
    assert d["sum_g"] == sum(sum(f[1::3]) for f in frames)
    assert d["sum_b"] == sum(sum(f[2::3]) for f in frames)
    assert d["fps"] == 25.0
    assert MM.decode_avi(None)["ok"] is False
    assert MM.decode_avi(b"RIFFxxxxWAVE")["ok"] is False
    good = bytearray(MM.encode_avi_rgb(frames, w, h))
    assert MM.decode_avi(bytes(good[:50]))["ok"] is False
    compressed = bytearray(good)
    i = compressed.find(b"00db")
    compressed[i:i + 4] = b"00dc"  # pretend-h264: the deployment stub
    assert MM.decode_avi(bytes(compressed))["ok"] is False


def test_avi_decode_spark_path(spark):
    """Planted-AVI generator + extractor through the one Arrow scan,
    with exact planted statistics."""
    df = spark.createDataFrame([(11,), (4242,)], "doc_id long")
    feats = {
        r["media_id"]: r
        for r in MM.extract_video_features(MM.plant_avi_media(df, "doc_id")).collect()
    }
    for mid in (11, 4242):
        exp = sum(128 * ((mid + 7 * f) % 256) for f in range(4))
        assert feats[mid]["ok"] == "true"
        assert (feats[mid]["width"], feats[mid]["height"], feats[mid]["n_frames"]) == (16, 8, 4)
        assert feats[mid]["sum_r"] == exp and feats[mid]["mean_r"] == exp / 512
        assert feats[mid]["fps"] == 25.0


def test_mjpeg_avi_codec_roundtrip_and_failure_modes():
    """B51 round-11 (VERDICT r10 item 5): MJPEG tier — 'MJPG' AVI '00dc'
    frames decode per-frame through operators/jpeg.py. Block-constant
    frames under the flat-8 table round-trip EXACTLY; geometry
    mismatches, garbage frames, raw frames in an MJPG stream, and
    non-MJPG compressed fourccs all fail closed."""
    import numpy as np

    from spark_s3_shuffle_spark.operators.jpeg import QTAB_FLAT8, encode_jpeg

    for mid in (0, 7, 255):
        d = MM.decode_avi(MM._plant_avi_mjpeg(mid))
        exp = sum(
            64 * ((mid * 11 + 37 * bx + 73 * by + 97 * f) % 256)
            for f in range(4) for bx in range(4) for by in range(2)
        )
        assert d["ok"] and (d["width"], d["height"], d["n_frames"]) == (32, 16, 4)
        assert d["sum_r"] == d["sum_g"] == d["sum_b"] == exp
        assert d["mean_r"] == exp / 2048 and d["fps"] == 25.0
    # frame geometry must match the container geometry
    small = encode_jpeg(np.zeros((8, 8), dtype="uint8"), quant_luma=QTAB_FLAT8)
    assert MM.decode_avi(MM.encode_avi_mjpeg([small], 32, 16))["ok"] is False
    # a non-JPEG frame fails the whole clip
    assert MM.decode_avi(MM.encode_avi_mjpeg([b"notajpeg"], 8, 8))["ok"] is False
    # raw '00db' frame inside an MJPG-declared stream is malformed
    mixed = MM._plant_avi_mjpeg(3).replace(b"00dc", b"00db", 1)
    assert MM.decode_avi(mixed)["ok"] is False
    # inter-frame codecs stay the fail-closed deployment stub
    h264 = MM.encode_avi_mjpeg([b"x"], 8, 8).replace(b"MJPG", b"H264")
    assert MM.decode_avi(h264)["ok"] is False


def test_mjpeg_avi_lossy_frames_decode_with_tolerance():
    """Non-planted MJPEG content (Annex K tables, non-constant blocks) is
    lossy but must decode close to the source — the same tolerance
    contract as the still-JPEG lossy tests."""
    import random

    import numpy as np

    from spark_s3_shuffle_spark.operators.jpeg import encode_jpeg

    rng = np.random.RandomState(17)
    w, h = 24, 16
    frames, truth = [], []
    for _ in range(3):
        # smooth gradient + mild noise: JPEG-friendly content
        yy, xx = np.mgrid[0:h, 0:w]
        img = (xx * 5 + yy * 3 + rng.randint(0, 8, (h, w))).astype("uint8")
        frames.append(encode_jpeg(img))
        truth.append(int(img.sum()))
    d = MM.decode_avi(MM.encode_avi_mjpeg(frames, w, h))
    assert d["ok"] and d["n_frames"] == 3
    n = w * h * 3
    assert abs(d["sum_r"] - sum(truth)) / n < 3.0  # < 3 gray levels/pixel


def test_mjpeg_decode_spark_path(spark):
    """Planted-MJPEG generator + extractor through the one Arrow scan,
    with exact planted statistics (the q321 contract)."""
    df = spark.createDataFrame([(13,), (999,)], "doc_id long")
    feats = {
        r["media_id"]: r
        for r in MM.extract_video_features(MM.plant_avi_mjpeg_media(df, "doc_id")).collect()
    }
    for mid in (13, 999):
        exp = sum(
            64 * ((mid * 11 + 37 * bx + 73 * by + 97 * f) % 256)
            for f in range(4) for bx in range(4) for by in range(2)
        )
        assert feats[mid]["ok"] == "true"
        assert (feats[mid]["width"], feats[mid]["height"], feats[mid]["n_frames"]) == (32, 16, 4)
        assert feats[mid]["sum_r"] == exp and feats[mid]["mean_r"] == exp / 2048
