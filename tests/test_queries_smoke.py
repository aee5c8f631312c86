"""t1 smoke: every registry query runs at sf0.001 with a stable schema.
(The full value-level oracle sweep is tools/check_correctness.py / the
driver's t2 gate; the media and vector families and q161 are value-checked
here, through the same comparator, and the oracle-less vector queries are
pinned by row digest.) Also covers B2: parquet sink write + re-read
unchanged."""

import hashlib
import os
import sys
import tempfile

import pytest

from spark_s3_shuffle_spark.queries.registry import QUERIES
from spark_s3_shuffle_spark.sources.catalog import write_parquet

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_correctness import duck_connection, rows_canon  # noqa: E402


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name].builder(spark, sf_dir)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0


def test_q161_grouped_pairs_equivalent_to_self_join(spark, sf_dir):
    """q161 generates basket pairs in-task; its DuckDB oracle states the
    same query as the lineitem self-join. Both must emit the same rows
    (same pairs, same multiplicity — duplicate partkeys within one order
    included), in the same order."""
    spec = QUERIES["q161_basket_cooccurrence"]
    sdf = spec.builder(spark, sf_dir)
    grouped = [tuple(r) for r in sdf.collect()]
    res = duck_connection(sf_dir).execute(spec.oracle)
    joined = res.fetchall()
    assert [d[0] for d in res.description] == sdf.columns
    assert rows_canon(sdf.columns, grouped) == rows_canon(sdf.columns, joined) and grouped
    # ORDER BY n DESC, p1, p2 is a total order: the row order must match too
    assert grouped == joined


#: Queries value-checked against their DuckDB oracle: the media tier (every
#: query plants or reads payloads and decodes them through multimodal's one
#: Arrow scan) and the oracle-backed vector family (similarity and the
#: embedding near-dup operators of dedup).
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
def test_media_query_matches_duckdb_oracle(spark, sf_dir, name):
    """Each query's rows equal its DuckDB oracle's: the media queries'
    decoded features replay the planted statistics, and the vector queries'
    top-k lists, near-dup pairs and cluster profiles replay exactly —
    values, not only a row count."""
    spec = QUERIES[name]
    sdf = spec.builder(spark, sf_dir)
    rows = [tuple(r) for r in sdf.collect()]
    res = duck_connection(sf_dir).execute(spec.oracle)
    cols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(cols)
    assert rows and rows_canon(sdf.columns, rows) == rows_canon(cols, res.fetchall())


def _rows_digest(sdf):
    """sha256 of a frame's canonical rows: columns in name order, rows
    sorted, floats rounded as the oracle comparator rounds them."""
    rows = [tuple(r) for r in sdf.collect()]
    canon = (sorted(sdf.columns), rows_canon(sdf.columns, rows))
    return len(rows), hashlib.sha256(repr(canon).encode()).hexdigest()


#: The approximate vector queries have no oracle; their rows at sf0.001 are
#: pinned instead, so a change to the IVF or sign-LSH kernels that alters
#: which neighbours they return fails here. (row count, digest)
PINNED_VECTOR_DIGESTS = {
    "q34b_ivf_topk": (10, "9b26680785423485020e97ccff41aab786a4275567de55e829ac2f5e86ecb9ba"),
    "q34c_lsh_topk": (10, "0557bcc2720f6014abe796c0eb9f2fe8825f4da9a70a224ba677fbc6e77359ff"),
    "q120b_batch_ivf_join": (
        25, "e766663d3fb6be4dc1b12bcc020e163056672a69b0385aab6e6afc8ea5459388"
    ),
}


@pytest.mark.parametrize("name", sorted(PINNED_VECTOR_DIGESTS))
def test_approx_vector_query_rows_pinned(spark, sf_dir, name):
    """The digests belong to the default sf0.001 fixture."""
    got = _rows_digest(QUERIES[name].builder(spark, sf_dir))
    assert got == PINNED_VECTOR_DIGESTS[name]


def test_parquet_sink_roundtrip(spark, sf_dir):
    # B2: write the flagship result, re-read, identical rows
    df = QUERIES["q12_tpch_q1_agg"].builder(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="sink-") as tmp:
        write_parquet(df, f"{tmp}/out")
        back = spark.read.parquet(f"{tmp}/out")
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_registry_contract_pins_rows_only_set():
    """Meta-contract: every registry entry is documented, and the set of
    oracle-less (rows-only) queries is EXACTLY the declared hash-family
    seven — a new query accidentally registered without its DuckDB
    oracle fails here instead of silently downgrading the driver's
    correctness gate."""
    from spark_s3_shuffle_spark.queries.registry import QUERIES

    assert all(spec.doc for spec in QUERIES.values()), [
        n for n, s in QUERIES.items() if not s.doc
    ]
    rows_only = {n for n, s in QUERIES.items() if s.oracle is None}
    assert rows_only == {
        "q34b_ivf_topk",
        "q34c_lsh_topk",
        "q42_minhash_dedup",
        "q43_simhash_dedup",
        "q44_ngram_jaccard",
        "q59_minhash_dedup_cc",
        "q120b_batch_ivf_join",
    }, rows_only
    # column-name discipline: oracle text must not alias nothing (crude
    # guard: every oracle SELECT list mentions AS or bare column names —
    # enforced implicitly by the sweeps; here we pin total counts)
    assert len(QUERIES) >= 192


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
