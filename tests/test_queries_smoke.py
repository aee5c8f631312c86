"""t1 value check: every registry query at sf0.001 equals its DuckDB
oracle through tools/check_correctness.py's one comparator (``check_query``,
the same code the full sweep runs), and returns rows unless it is empty on
both sides at this scale. The seven oracle-less queries are pinned by row
digest instead, at two shuffle-partition counts, and the media and vector
queries are value-checked at the second count too. Also covers B2: parquet
sink write + re-read unchanged, and the correctness CLI's own contract."""

import hashlib
import json
import os
import subprocess
import sys
import tempfile
from contextlib import contextmanager

import pytest

from check_correctness import check_query, duck_connection, rows_canon
from spark_s3_shuffle_spark.queries.registry import QUERIES
from spark_s3_shuffle_spark.session import engine_sql_confs
from spark_s3_shuffle_spark.sources.catalog import write_parquet

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


#: The oracle-less queries (hash-specific dedup and approximate vector
#: search): their rows at sf0.001 are pinned instead, so a change to the
#: MinHash/SimHash/n-gram or IVF/sign-LSH kernels that alters which rows
#: they return fails here. (row count, digest)
PINNED_ROWS = {
    "q34b_ivf_topk": (10, "9b26680785423485020e97ccff41aab786a4275567de55e829ac2f5e86ecb9ba"),
    "q34c_lsh_topk": (10, "0557bcc2720f6014abe796c0eb9f2fe8825f4da9a70a224ba677fbc6e77359ff"),
    "q42_minhash_dedup": (
        476, "c9c7250b252e1ff2a4babe99df202416a474686d1c061ff5686523194c30b732"
    ),
    "q43_simhash_dedup": (
        486, "379fcba3533c51cefc30cc984d9d336e6aad515d41785402d8afb2bf76f7f81f"
    ),
    "q44_ngram_jaccard": (28, "390ac6c1db76d985e8e3b1d1be70c78841e997416277c7fb6a4bf2661dd0cc29"),
    "q59_minhash_dedup_cc": (
        476, "c9c7250b252e1ff2a4babe99df202416a474686d1c061ff5686523194c30b732"
    ),
    "q120b_batch_ivf_join": (
        25, "e766663d3fb6be4dc1b12bcc020e163056672a69b0385aab6e6afc8ea5459388"
    ),
}

#: Queries whose Spark result and oracle are both empty at sf0.001 (their
#: filters select nothing at this scale); every other query returns rows.
EMPTY_AT_SF0001 = frozenset({
    "q100_tpch_q7", "q103_tpch_q11", "q110_tpch_q22", "q169_ds65_underperformers",
    "q190_sql_text_tpch_q7", "q194_sql_text_tpch_q11", "q203_sql_text_tpch_q22",
    "q212_sql_text_ds65", "q220_sql_text_ds42", "q221_sql_text_ds52",
    "q222_sql_text_ds55", "q227_sql_text_ds25", "q228_sql_text_ds29",
    "q239_sql_text_ds6", "q243_sql_text_ds19", "q245_sql_text_ds27",
    "q253_sql_text_ds79", "q254_sql_text_ds84", "q262_sql_text_ds41",
    "q268_sql_text_ds21", "q289_sql_text_ds46", "q290_sql_text_ds68",
    "q292_sql_text_ds83", "q296_sql_text_ds58", "q298_sql_text_ds8",
    "q301_sql_text_ds72", "q302_sql_text_ds17", "q304_sql_text_ds54",
    "q307_sql_text_ds80", "q308_sql_text_ds24", "q312_sql_text_ds91",
    "q313_sql_text_ds39", "q314_sql_text_ds85", "q316_sql_text_ds14b",
    "q317_sql_text_ds64",
})

#: Shuffle-partition counts a query is checked at: the session's 8, and 7.
#: Each count sets the whole engine SQL profile, AQE's initial partition
#: number included, which AQE's shuffles use in place of
#: spark.sql.shuffle.partitions.
PARTITION_COUNTS = (8, 7)


@contextmanager
def _engine_profile(spark, partitions):
    """Run the body under the engine SQL profile at ``partitions`` shuffle
    partitions; the session's confs are restored after."""
    confs = engine_sql_confs(partitions)
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _rows_digest(spark, sf_dir, spec):
    """(row count, sha256) of ``spec``'s canonical rows: columns in name
    order, rows sorted, floats rounded as the oracle comparator rounds
    them."""
    sdf = spec.builder(spark, sf_dir)
    rows = [tuple(r) for r in sdf.collect()]
    canon = (sorted(sdf.columns), rows_canon(sdf.columns, rows))
    return len(rows), hashlib.sha256(repr(canon).encode()).hexdigest()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, duck, name):
    """Each query's values equal its DuckDB oracle's (check_query's
    record), and it returns rows unless it is in EMPTY_AT_SF0001; an
    oracle-less query gives its pinned digest at every PARTITION_COUNTS
    count."""
    spec = QUERIES[name]
    if spec.oracle is None:
        for parts in PARTITION_COUNTS:
            with _engine_profile(spark, parts):
                assert _rows_digest(spark, sf_dir, spec) == PINNED_ROWS[name], parts
        return
    rec = check_query(spark, duck, spec, sf_dir)
    assert rec["hash_match"] is True, rec["err"]
    assert (rec["spark_rows"] == 0) == (name in EMPTY_AT_SF0001), rec["spark_rows"]


#: The oracle-backed queries whose operators compute per partition in
#: Python: the media tier (every query plants or reads payloads and decodes
#: them through multimodal's one Arrow scan) and the vector family
#: (similarity and the embedding near-dup operators of dedup).
ORACLE_CHECKED_QUERIES = [
    "q47_multimodal_features",
    "q318_png_decode",
    "q319_jpeg_decode",
    "q320_video_decode",
    "q321_mjpeg_video_decode",
    "q322_adpcm_audio_decode",
    "q324_ulaw_audio_decode",
    "q325_alaw_audio_decode",
    "q326_rle8_video_decode",
    "q34_cosine_topk",
    "q45_embedding_neardup",
    "q81_semantic_dedup",
    "q97_quantized_topk",
    "q120_batch_ann_join",
    "q328_kmeans_quantized",
    "q330_label_centroid_profile",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED_QUERIES)
def test_media_query_matches_duckdb_oracle(spark, sf_dir, duck, name):
    """The media and vector queries equal their oracle, with rows, at the
    second PARTITION_COUNTS count too (test_query_runs checks the first):
    decoded features, top-k lists, near-dup pairs and cluster profiles do
    not move with the partitioning their Arrow batches come from."""
    with _engine_profile(spark, PARTITION_COUNTS[1]):
        rec = check_query(spark, duck, QUERIES[name], sf_dir)
    assert rec["hash_match"] is True, rec["err"]
    assert rec["spark_rows"] > 0


#: The approximate vector queries among PINNED_ROWS: a change to the IVF or
#: sign-LSH kernels that alters which neighbours they return fails here.
APPROX_VECTOR_QUERIES = ["q120b_batch_ivf_join", "q34b_ivf_topk", "q34c_lsh_topk"]


@pytest.mark.parametrize("name", APPROX_VECTOR_QUERIES)
def test_approx_vector_query_rows_pinned(spark, sf_dir, name):
    """The digests belong to the default sf0.001 fixture, read in the
    session as it stands, without a conf swap."""
    assert _rows_digest(spark, sf_dir, QUERIES[name]) == PINNED_ROWS[name]


def test_q161_grouped_pairs_equivalent_to_self_join(spark, sf_dir, duck):
    """q161 generates basket pairs in-task; its DuckDB oracle states the
    same query as the lineitem self-join. test_query_runs compares their
    values; here the columns come out in the oracle's order, and the rows
    too, since ORDER BY n DESC, p1, p2 is a total order."""
    spec = QUERIES["q161_basket_cooccurrence"]
    sdf = spec.builder(spark, sf_dir)
    res = duck.execute(spec.oracle)
    assert sdf.columns == [d[0] for d in res.description]
    assert [tuple(r) for r in sdf.collect()] == res.fetchall()


def test_parquet_sink_roundtrip(spark, sf_dir):
    # B2: write the flagship result, re-read, identical rows
    df = QUERIES["q12_tpch_q1_agg"].builder(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="sink-") as tmp:
        write_parquet(df, f"{tmp}/out")
        back = spark.read.parquet(f"{tmp}/out")
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_registry_contract_pins_rows_only_set():
    """Meta-contract: every registry entry is documented, and the set of
    oracle-less (rows-only) queries is EXACTLY the pinned seven — a new
    query accidentally registered without its DuckDB oracle fails here
    instead of silently dropping out of the oracle check."""
    assert all(spec.doc for spec in QUERIES.values()), [
        n for n, s in QUERIES.items() if not s.doc
    ]
    rows_only = {n for n, s in QUERIES.items() if s.oracle is None}
    assert rows_only == set(PINNED_ROWS), rows_only
    assert len(QUERIES) == 340


def test_check_correctness_cli_contract(sf_dir, tmp_path):
    """tools/check_correctness.py's exit status and --json artifact: the
    _meta header and one record per selected query. A subprocess, since
    the CLI's own get_spark would reset this session's engine confs."""
    out = tmp_path / "correctness.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "check_correctness.py"),
         "--json", str(out), sf_dir, "q01_scan_count", "q44_ngram_jaccard"],
        cwd=_REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    report = json.loads(out.read_text())
    assert report["_meta"] == {"completed": 2, "total": 2, "aborted": None}
    assert report["q01_scan_count"]["hash_match"] is True
    rows_only = report["q44_ngram_jaccard"]
    assert rows_only["rows_match"] is True and rows_only["hash_match"] is None


#: The queries of the benchmark's llm_pipeline workload (perfbench/workloads.py).
LLM_PIPELINE_QUERIES = (
    "q42_minhash_dedup", "q137_pagerank_trade_graph", "q93_duplicated_spans",
    "q40_lang_id", "q319_jpeg_decode", "q34_cosine_topk",
)


def test_codegen_cache_holds_llm_pipeline_working_set(spark, sf_dir):
    """spark.sql.codegen.cache.maxEntries (session.get_spark) must hold the
    generated classes of the llm_pipeline queries: a second round of the
    same six queries in the same session compiles nothing. At Spark's
    default of 100 entries the LRU evicts them before they are reused."""
    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def run_round():
        for name in LLM_PIPELINE_QUERIES:
            QUERIES[name].builder(spark, sf_dir).collect()

    run_round()
    before = compilations.getCount()
    run_round()
    assert compilations.getCount() - before == 0


def test_bench_engine_delta_matches_get_spark(spark, monkeypatch):
    """bench.py's paired engine side sets the same values of the engine
    SQL confs as a get_spark session starts with."""
    import bench

    conf = spark.sparkContext.getConf()
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", conf.get("spark.sql.shuffle.partitions"))
    delta = bench.engine_delta()
    assert len(delta) == 5
    assert delta == {k: conf.get(k) for k in delta}
