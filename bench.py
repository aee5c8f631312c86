"""Benchmark harness: runs the engine's headline queries and prints ONE
JSON line ``{"metric", "value", "unit", "queries", "sf"}``.

- data dir: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
- master:   local[$SPARK_GRAFT_CPUS] (default all cores)
- runs:     $SPARK_GRAFT_BENCH_RUNS timed runs per query (default 3; 5 in
            baseline mode) after a JVM/codegen warmup; the MINIMUM is
            reported (noise-rejecting estimator — see run_suite).

Ratio protocol (makes the ≤2× gate measurable): the DEFAULT run measures
engine and vanilla-baseline configurations PAIRED in one JVM — the two
protocols differ only in dynamic SQLConf (shuffle partitions, aggregate
pushdown; the static Kryo/AQE/memory confs are identical), so each query
alternates vanilla/engine samples and reports min-of-n per side plus
their ratio. Pairing is what makes the per-query gate meaningful on this
host: separate-process runs drift 15%+ between launches, which showed up
as a different spurious 1.6-2.3x "worst query" on every rerun.

    python bench.py                # paired engine+vanilla, emits ratios,
                                   # ratio_max, baseline_total
    python bench.py --baseline     # legacy separate-process vanilla run
                                   # (min-of-5) -> BASELINE_BENCH.json,
                                   # kept as the at-rest protocol artifact

Besides the oracle-checked registry queries, times the bench-only tier
(SURVEY §2.2): approx_count_distinct (B20) and batch sliding/session
windows (B38/B39). Offline preparation steps (the IVF index build for
q34b) run before timing via ``registry.prepare_map`` — index builds are
amortized per corpus version in production and are excluded from per-query
latency, exactly as the reference excludes TPC-DS data generation from its
query timings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.queries.registry import QUERIES, prepare_map
from spark_s3_shuffle_spark.session import default_parallelism, engine_sql_confs, get_spark
from spark_s3_shuffle_spark.sources.catalog import load_table

_HERE = os.path.dirname(os.path.abspath(__file__))
BASELINE_JSON = os.path.join(_HERE, "BASELINE_BENCH.json")
#: Full paired-run artifact: the driver's per-round stdout capture keeps only
#: the last 2000 chars, which truncates ratios/ratio_max out of BENCH_rNN.json
#: — so the DEFAULT run also persists the complete JSON to disk (override the
#: path with $SPARK_GRAFT_BENCH_OUT; round-close copies it to BENCH_FULL_rNN).
PAIRED_JSON = os.environ.get("SPARK_GRAFT_BENCH_OUT", os.path.join(_HERE, "BENCH_FULL.json"))

#: Headline queries echoed in the final stdout JSON line. The full suite is
#: the whole registry (325 entries as of round 9 — see ``n_queries`` in the
#: emitted JSON for the live count), whose per-query dict alone is >12 kB of
#: JSON — r7's driver artifact recorded ``"parsed": null`` because the one
#: line overflowed the
#: driver's tail-capture window. The stdout line therefore carries summary
#: stats + this curated flagship subset (one per operator family) and points
#: at the on-disk artifact for the complete per-query data.
HEADLINE = [
    "q12_tpch_q1_agg", "q42_minhash_dedup", "q43_simhash_dedup",
    "q59_minhash_dedup_cc", "q81_semantic_dedup", "q34_cosine_topk",
    "q34b_ivf_topk", "q120_batch_ann_join", "q120b_batch_ivf_join",
    "q93_duplicated_spans", "q95_quality_ensemble", "q137_pagerank_trade_graph",
    "q160_rfm_segmentation", "q216_sequence_packing_plan",
    "q218_sliding_window_agg", "q223_sql_text_ds5", "q233_sql_text_ds49",
    "q236_sql_text_ds75", "q238_sql_text_ds67", "q192_sql_text_tpch_q9",
    "q315_sql_text_ds14a", "q317_sql_text_ds64",
]


def bench_only_queries():
    """B20/B38/B39: approximate & window ops with no deterministic oracle."""

    def b20_approx_distinct(spark, sf_dir):
        return load_table(spark, sf_dir, "orders").agg(
            F.approx_count_distinct("o_custkey").alias("n")
        )

    def b38_sliding_window(spark, sf_dir):
        ev = load_table(spark, sf_dir, "events")
        return (
            ev.groupBy(F.window("event_ts", "10 minutes", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    def b39_session_window(spark, sf_dir):
        ev = load_table(spark, sf_dir, "events")
        return (
            ev.groupBy(F.session_window("event_ts", "5 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    return {
        "b20_approx_count_distinct": b20_approx_distinct,
        "b38_sliding_window": b38_sliding_window,
        "b39_session_window": b39_session_window,
    }


def vanilla_spark() -> SparkSession:
    """BASELINE.md baseline runner: stock builder + Kryo + AQE, Spark-default
    shuffle partitions; no engine conf. (The nanos/UTC runtime confs are
    applied by load_table — required to *read* the fixtures at all, and the
    protocol pins AQE on anyway.)"""
    return (
        SparkSession.builder.appName("vanilla-baseline")
        .master(f"local[{default_parallelism()}]")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


#: The engine-vs-vanilla conf delta is ENTIRELY dynamic SQLConf (the static
#: confs — Kryo, driver memory, UI — are identical in both protocols, and
#: load_table applies the runtime confs to any session), so the ratio can
#: be measured PAIRED inside one JVM: flip the delta per sample and
#: interleave engine/vanilla draws per query. Box-level drift (this host
#: swings 15%+ between runs minutes apart) then hits both sides of every
#: ratio equally instead of whichever separate process ran at the worse
#: moment — separate-process ratios showed a different spurious 1.6-2.3x
#: "worst query" on every rerun; paired ratios are stable.
#: Two static confs are NOT identical. get_spark sets both, so both sides
#: of every pair share them, but the separate-process ``--baseline``
#: session (vanilla_spark) leaves them at Spark's defaults:
#: ``spark.sql.codegen.cache.maxEntries`` (100 entries there, where repeated
#: draws may recompile generated code the engine session keeps cached) and
#: ``spark.python.daemon.module`` (PySpark's own daemon there, whose Python
#: tasks each pay the per-task archive re-read that the engine's
#: ``worker_daemon`` removes).
VANILLA_DELTA = {
    "spark.sql.shuffle.partitions": "200",  # Spark default
    "spark.sql.parquet.aggregatePushdown": "false",  # Spark default
    "spark.sql.autoBroadcastJoinThreshold": "10485760",  # Spark default 10 MiB
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "10485760",
    # explicit = Spark's effective default (falls back to shuffle.partitions)
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "200",
}


def engine_delta() -> dict[str, str]:
    return engine_sql_confs()


#: Sub-second stabilization (round 10): a paired ratio over a query whose
#: wall-clock is JVM-jitter-sized is a noise reading, not a plan signal —
#: round 9's driver ratio_max 1.36 came from q04_filter_count, a 59-byte-
#: shuffle query finishing in ~0.3 s that the builder's own lock-step run
#: measured at 1.0x. Two mitigations: (a) queries whose faster side lands
#: under SUBSEC_FLOOR get extra draws up to SUBSEC_RUNS per side (min-of-5
#: rejects more jitter exactly where jitter dominates), and (b) the emitted
#: JSON carries ``ratio_max_substantive`` = worst ratio among queries whose
#: vanilla min >= SUBSEC_FLOOR, the number regression decisions should read.
SUBSEC_FLOOR = 0.2
SUBSEC_RUNS = 5


def run_paired_suite(spark, sf_dir: str, runs: int):
    """Interleaved engine/vanilla sampling: per query, alternate conf modes
    sample-by-sample and keep each side's minimum. Sub-second queries get
    topped up to SUBSEC_RUNS draws per side (see SUBSEC_FLOOR note)."""
    builders = {name: spec.builder for name, spec in QUERIES.items()}
    builders.update(bench_only_queries())
    e_delta, v_delta = engine_delta(), VANILLA_DELTA

    builders["q12_tpch_q1_agg"](spark, sf_dir).collect()  # warmup
    for prep in prepare_map().values():
        prep(spark, sf_dir)

    def draw_pair(fn, e_samples, v_samples):
        for delta, samples in ((v_delta, v_samples), (e_delta, e_samples)):
            for k, v in delta.items():
                spark.conf.set(k, v)
            t0 = time.monotonic()
            fn(spark, sf_dir).collect()
            samples.append(time.monotonic() - t0)

    engine_t: dict[str, float] = {}
    vanilla_t: dict[str, float] = {}
    for name, fn in builders.items():
        e_samples, v_samples = [], []
        for _ in range(runs):
            draw_pair(fn, e_samples, v_samples)
        while (
            min(min(e_samples), min(v_samples)) < SUBSEC_FLOOR
            and len(e_samples) < SUBSEC_RUNS
        ):
            draw_pair(fn, e_samples, v_samples)
        engine_t[name] = round(min(e_samples), 4)
        vanilla_t[name] = round(min(v_samples), 4)
    for k, v in engine_delta().items():  # leave the session in engine mode
        spark.conf.set(k, v)
    return engine_t, vanilla_t


def run_suite(spark, sf_dir: str, runs: int) -> dict[str, float]:
    builders = {name: spec.builder for name, spec in QUERIES.items()}
    builders.update(bench_only_queries())

    # warmup: JVM + codegen + parquet footer caches
    builders["q12_tpch_q1_agg"](spark, sf_dir).collect()
    # offline/amortized prep (index builds) — outside the timed path
    for prep in prepare_map().values():
        prep(spark, sf_dir)

    timings: dict[str, float] = {}
    for name, fn in builders.items():
        samples = []
        for _ in range(runs):
            t0 = time.monotonic()
            fn(spark, sf_dir).collect()
            samples.append(time.monotonic() - t0)
        # min-of-n, not median: the box's cross-run drift swings sub-second
        # queries by 2x+ (a 0.17s baseline sample vs a 0.35s engine sample
        # for the SAME plan measured back-to-back), and the minimum is the
        # standard noise-rejecting estimator for micro-scale timings — it
        # discards GC pauses, codegen compiles, and co-tenant interference
        # that medians still absorb. Applied to BOTH baseline and engine
        # runs, so the ratio stays a fair plan-vs-plan comparison.
        timings[name] = round(min(samples), 4)
    return timings


def main() -> None:
    baseline_mode = "--baseline" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # paired mode interleaves engine/vanilla draws, so 3 per side suffices
    # (drift cancels within each pair); the legacy separate-process
    # baseline keeps 5 draws for its artifact
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5" if baseline_mode else "3"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir

    spark = vanilla_spark() if baseline_mode else get_spark("engine-bench")
    spark.sparkContext.setLogLevel("ERROR")

    if baseline_mode:
        timings = run_suite(spark, sf_dir, runs)
        total = round(sum(timings.values()), 4)
        out = {
            "metric": "baseline_total_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
        with open(BASELINE_JSON, "w") as f:
            json.dump({"queries": timings, "sf": sf, "runs": runs, "total": total}, f, indent=1)
    else:
        timings, vanilla_t = run_paired_suite(spark, sf_dir, runs)
        total = round(sum(timings.values()), 4)
        ratios = {
            q: round(t / vanilla_t[q], 2) for q, t in timings.items() if vanilla_t.get(q)
        }
        substantive = {q: r for q, r in ratios.items() if vanilla_t[q] >= SUBSEC_FLOOR}
        out = {
            "metric": "bench_total_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "ratios": ratios,
            "ratio_max": max(ratios.values()) if ratios else None,
            "ratio_max_substantive": max(substantive.values()) if substantive else None,
            "subsec_floor": SUBSEC_FLOOR,
            "baseline_total": round(sum(vanilla_t.values()), 4),
            "baseline_queries": vanilla_t,
            "protocol": "paired-in-process",
            "runs": runs,
        }
        with open(PAIRED_JSON, "w") as f:
            json.dump(out, f, indent=1)
        # Compact stdout line: summary stats + the flagship subset only, so
        # the driver's tail window can parse it (the full per-query dict is
        # in PAIRED_JSON / BENCH_FULL_rNN.json).
        out = {
            "metric": "bench_total_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": {q: timings[q] for q in HEADLINE if q in timings},
            "sf": sf,
            "n_queries": len(timings),
            "ratio_overall": round(total / sum(vanilla_t.values()), 3),
            "ratio_max": out["ratio_max"],
            "ratio_max_substantive": out["ratio_max_substantive"],
            "baseline_total": out["baseline_total"],
            "protocol": "paired-in-process",
            "full_results": os.path.basename(PAIRED_JSON),
        }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
