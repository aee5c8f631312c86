"""Plan-property tests: the scale contract. Filters must reach the parquet
scan, column pruning must hold, dims must broadcast, top-k must plan as
TakeOrderedAndProject — these are assertions, not hopes."""

from pyspark.sql import functions as F

from spark_s3_shuffle_spark.plans import inspect as I
from spark_s3_shuffle_spark.queries.registry import QUERIES
from spark_s3_shuffle_spark.sources.catalog import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    q04 = QUERIES["q04_filter_count"].builder(spark, sf_dir)
    pushed = I.pushed_filters(q04)
    assert any("o_orderstatus" in f for f in pushed), pushed
    assert any("o_totalprice" in f for f in pushed), pushed


def test_column_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    two_col = li.select("l_orderkey", "l_quantity")
    schemas = I.read_schema_columns(two_col)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}, schemas


def test_broadcast_join_planned(spark, sf_dir):
    q05b = QUERIES["q05b_broadcast_join"].builder(spark, sf_dir)
    assert I.has_broadcast_join(q05b)


def test_topk_plans_take_ordered(spark, sf_dir):
    q21 = QUERIES["q21_topk_sort"].builder(spark, sf_dir)
    assert I.plan_has(q21, "TakeOrderedAndProject")


def test_agg_is_partial_then_final(spark, sf_dir):
    q12 = QUERIES["q12_tpch_q1_agg"].builder(spark, sf_dir)
    plan = I.formatted_plan(q12)
    assert plan.count("HashAggregate") >= 2  # partial + final
    # AQE wraps stages lazily and hides codegen spans from explain; build
    # the same plan with AQE off to assert whole-stage fusion statically.
    q12_static = QUERIES["q12_tpch_q1_agg"].builder(spark, sf_dir)
    # (build first: the catalog loader re-applies the engine confs, AQE incl.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert I.codegen_stage_count(q12_static) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_flagship_exchange_count(spark, sf_dir):
    # TPC-H Q1 shape: exactly one shuffle for the agg + one for the sort.
    q12 = QUERIES["q12_tpch_q1_agg"].builder(spark, sf_dir)
    assert I.count_exchanges(q12) <= 2


def test_q48_dims_broadcast_and_channel_filters_push(spark, sf_dir):
    """Composite q5-shape: both dim joins must be broadcast (zero fact-side
    join shuffle) and the channel predicates must reach the lineitem scan."""
    q48 = QUERIES["q48_channels_rollup"].builder(spark, sf_dir)
    plan = I.formatted_plan(q48)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    pushed = I.pushed_filters(q48)
    assert any("l_returnflag" in f for f in pushed), pushed


def test_q49_window_after_agg_not_raw(spark, sf_dir):
    """q67 shape: the rank window must consume the aggregated frame — plan
    order is scan → join → HashAggregate → Window, never Window over raw."""
    q49 = QUERIES["q49_join_agg_rank"].builder(spark, sf_dir)
    plan = I.formatted_plan(q49)
    assert "Window" in plan
    # formatted trees print root-first: Window (downstream) must appear
    # BEFORE HashAggregate (its input) in the text
    assert plan.index("Window") < plan.index("HashAggregate")
    # rank()+filter must push a per-partition group limit below the window
    assert "WindowGroupLimit" in plan


def test_q50_limit_is_take_ordered(spark, sf_dir):
    q50 = QUERIES["q50_period_delta"].builder(spark, sf_dir)
    assert I.plan_has(q50, "TakeOrderedAndProject")


def test_q58_terasort_is_range_partitioned(spark, sf_dir):
    """TeraSort analogue must plan a range exchange (sampled bounds), not a
    hash shuffle or a global single-partition sort."""
    q58 = QUERIES["q58_terasort"].builder(spark, sf_dir)
    plan = I.formatted_plan(q58)
    assert "rangepartitioning" in plan.lower(), plan[:2000]


def test_partitioned_sink_prunes_on_read(spark, sf_dir, tmp_path):
    """B2 at scale: a sink partitioned by a filter column must let the
    re-read prune whole directories (PartitionFilters in the scan, pruned
    row count) — the layout decision that turns a 100 TB scan into a 1 TB
    one for selective readers."""
    from spark_s3_shuffle_spark.sources.catalog import load_table, write_parquet
    ev = load_table(spark, sf_dir, "events").drop("event_ts")
    out = f"file://{tmp_path}/events_by_type"
    write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = I.formatted_plan(back)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200], plan[:1500]
    expected = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == expected


def test_shuffle_volume_metering(spark, sf_dir):
    """A15 metering analogue: executed plans expose per-exchange shuffle
    sizes; an aggregation's shuffle must be cardinality-bounded (tiny), and
    an un-aggregated total sort must shuffle the whole input (bigger)."""
    agg = QUERIES["q12_tpch_q1_agg"].builder(spark, sf_dir)
    agg.collect()
    agg_vols = I.shuffle_volumes(agg)
    assert agg_vols and all(v["bytes"] > 0 for v in agg_vols)
    sort = QUERIES["q58_terasort"].builder(spark, sf_dir)
    sort.collect()
    assert I.total_shuffle_bytes(sort) > I.total_shuffle_bytes(agg) * 10


def test_scan_count_uses_parquet_stats(spark, sf_dir):
    q01 = QUERIES["q01_scan_count"].builder(spark, sf_dir)
    # count(*) over parquet should not read any data columns
    schemas = I.read_schema_columns(q01)
    assert all(len(s) == 0 for s in schemas), schemas


def test_q60_q69_fact_joins_broadcast(spark, sf_dir):
    """Composite suite scale invariant: dimension joins must be broadcast so
    the fact table never shuffles for a join — shuffle volume stays bounded
    by aggregate cardinality, not fact rows."""
    q69 = QUERIES["q69_tpch_q5"].builder(spark, sf_dir)
    plan69 = I.formatted_plan(q69)
    # TPC-H Q5: customer/supplier/nation/region joins all broadcast; the
    # only non-broadcast join may be the fact-fact lineitem⋈orders
    assert plan69.count("BroadcastHashJoin") >= 4, plan69[:3000]

    # q60 is joinless (single-fact agg → window): its shuffles must be the
    # partial/final agg exchange + the window over the aggregated frame +
    # the final sort — never more, and the window must carry a group limit
    # so only top-k rows per channel survive the sort
    q60 = QUERIES["q60_returns_rank"].builder(spark, sf_dir)
    plan60 = I.formatted_plan(q60)
    assert "SortMergeJoin" not in plan60 and "BroadcastHashJoin" not in plan60
    assert I.count_exchanges(q60) <= 3, plan60[:3000]
    assert "WindowGroupLimit" in plan60, plan60[:3000]


def test_tpch_completion_pack_plan_shapes(spark, sf_dir):
    """Scale invariants for the q98-q110 TPC-H completion pack: dimension
    joins broadcast (the fact shuffles only on its own keys), EXISTS plans
    as a semi join, and bounded top-k plans as TakeOrderedAndProject."""
    # Q4: EXISTS with non-equi correlate -> LEFT SEMI hash join, date
    # window pushed to the orders scan
    q99 = QUERIES["q99_tpch_q4"].builder(spark, sf_dir)
    plan99 = I.formatted_plan(q99)
    assert "LeftSemi" in plan99, plan99[:3000]
    assert any("o_orderdate" in f for f in I.pushed_filters(q99))

    # Q7/Q8/Q9: every dimension broadcasts; the only shuffled joins are
    # fact-fact (lineitem⋈orders) and the customer join
    for name, min_bhj in [("q100_tpch_q7", 3), ("q101_tpch_q8", 5), ("q102_tpch_q9", 3)]:
        df = QUERIES[name].builder(spark, sf_dir)
        plan = I.formatted_plan(df)
        assert plan.count("BroadcastHashJoin") >= min_bhj, (name, plan[:3000])

    # Q2/Q21: bounded output -> TakeOrderedAndProject, and the correlated
    # min/exists logic must not introduce a cartesian product
    for name in ["q98_tpch_q2", "q109_tpch_q21"]:
        df = QUERIES[name].builder(spark, sf_dir)
        plan = I.formatted_plan(df)
        assert "TakeOrderedAndProject" in plan, (name, plan[:3000])
        assert "CartesianProduct" not in plan, (name, plan[:3000])

    # Q17: correlated AVG as window over ONE exchange on l_partkey plus the
    # single-row final agg — never a second fact pass
    q107 = QUERIES["q107_tpch_q17"].builder(spark, sf_dir)
    assert I.count_exchanges(q107) <= 3
    assert I.has_broadcast_join(q107)


def test_matview_rollup_scans_summary_not_fact(spark, sf_dir):
    """Aggregate navigation contract: q111/q112 must read the materialized
    summary's component columns — never any raw lineitem column."""
    q111 = QUERIES["q111_matview_rollup"].builder(spark, sf_dir)
    cols = {c for s in I.read_schema_columns(q111) for c in s}
    assert "sum_qty" in cols and "n_rows" in cols, cols
    assert not {"l_extendedprice", "l_quantity", "l_shipdate"} & cols, cols


def test_matview_derived_grain_answered_from_summary(spark, sf_dir):
    """Rollup choice at a DERIVED grain: a year-level query is answered
    from the MONTH summary — plan reads only summary columns (no fact
    column in any scan), and the recombined components equal a direct
    fact-side year rollup bit-for-bit (exact decimals)."""
    from spark_s3_shuffle_spark.operators import matview as MV
    from spark_s3_shuffle_spark.queries.registry import get_lineitem_summary
    from spark_s3_shuffle_spark.sources.catalog import load_table

    summary = spark.read.parquet(get_lineitem_summary(spark, sf_dir))
    yearly = MV.navigate_derived(summary, {"ship_year": F.year("ship_month")})
    cols = {c for s in I.read_schema_columns(yearly) for c in s}
    assert {"ship_month", "sum_qty", "n_rows"} <= cols, cols
    assert not {"l_extendedprice", "l_quantity", "l_shipdate"} & cols, cols

    li = load_table(spark, sf_dir, "lineitem")
    direct = (
        li.groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    got = {
        r["ship_year"]: (r["sum_qty"], r["n_rows"])
        for r in yearly.select("ship_year", "sum_qty", "n_rows").collect()
    }
    want = {r["ship_year"]: (r["sum_qty"], r["n_rows"]) for r in direct.collect()}
    assert got == want


def test_tpcds_pack_plan_shapes(spark, sf_dir):
    """B77 plan contract: the part dim broadcasts under the rollup+rank
    (q124), the intersect restriction plans as semi-join machinery with no
    payload-side duplication (q126), the double derived-set restriction
    stays semi (q132), and the ds88 engine formulation reads events ONCE
    (one scan vs the oracle text's eight scalar subqueries)."""
    q124 = QUERIES["q124_ds67_rollup_rank"].builder(spark, sf_dir)
    assert I.has_broadcast_join(q124)
    plan126 = I.formatted_plan(QUERIES["q126_ds14_cross_channel_intersect"].builder(spark, sf_dir))
    assert "LeftSemi" in plan126, plan126[:500]
    plan132 = I.formatted_plan(QUERIES["q132_ds23_frequent_best"].builder(spark, sf_dir))
    assert plan132.count("LeftSemi") >= 2, plan132[:500]
    plan128 = I.formatted_plan(QUERIES["q128_ds88_time_buckets"].builder(spark, sf_dir))
    assert plan128.count("events.parquet") <= 1 and "Scan parquet" in plan128
    assert "Join" not in plan128  # single-scan conditional agg, no self-joins


def test_funnel_single_event_exchange(spark, sf_dir):
    """q144: the three chained stage windows share ONE exchange on user_id
    (Spark reuses the partitioning/sort), so the events table is scanned
    and shuffled once — not three times as the oracle's join formulation
    would."""
    q = QUERIES["q144_funnel_cohorts"].builder(spark, sf_dir)
    plan = I.formatted_plan(q)
    # exchanges: one hashpartitioning(user_id) for the windows + distinct,
    # one for the cohort agg, plus the final orderBy's range partitioning
    assert plan.count("hashpartitioning(user_id") == 1, plan.count(
        "hashpartitioning(user_id"
    )
    assert plan.count("Window") == 3 or "Window" in plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Scale guard: with Spark's runtime bloom-filter join filtering on, a
    selective dim-side predicate injects a might_contain probe into the
    fact scan side — the built-in analogue of the engine's manifest
    blooms, pruning shuffle input before the join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # production default is 10GB of fact-side scan before the bloom pays
        # for itself; the fixtures are far smaller, so drop the floor to
        # observe the injection the 100 TB plan would get for free
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join shape
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _unpartitioned_window_specs(df) -> list[str]:
    """Every windowspecdefinition in the OPTIMIZED plan whose partition
    spec is EMPTY (first argument is an ordering, i.e. contains ASC/DESC
    before any comma-nesting) — the shape that makes WindowExec move all
    data to a single partition."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bad = []
    for chunk in plan.split("windowspecdefinition(")[1:]:
        # first top-level argument of the spec
        depth, arg = 0, ""
        for ch in chunk:
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                break
            arg += ch
        if " ASC" in arg or " DESC" in arg:
            bad.append(arg)
    return bad


def test_prefix_rewrites_kill_single_task_windows(spark, sf_dir):
    """q160 (RFM NTILE), q167 (skyline running-max) and q173 (ABC
    cumulative share) — the three per-entity global-window shapes —
    must plan with ZERO unpartitioned window specs: every window in the
    optimized plan carries a partition key (the range-shard pid for the
    data-sized frames, the constant pmod key for the P-row summary
    fold). The single-task WindowExec straggler is structurally gone."""
    for q in (
        "q160_rfm_segmentation",
        "q167_pareto_frontier",
        "q173_abc_classification",
    ):
        df = QUERIES[q].builder(spark, sf_dir)
        bad = _unpartitioned_window_specs(df)
        assert not bad, (q, bad)


def test_single_task_window_detector_sees_the_antipattern(spark, sf_dir):
    """The detector itself must flag the shape it exists to catch (guard
    against a silently vacuous plan test)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    df = o.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderdate", "o_orderkey"))
    )
    assert _unpartitioned_window_specs(df)


def test_no_new_single_task_windows_repo_wide(spark, sf_dir):
    """Repo-wide contract: NO registry query may plan an unpartitioned
    window except the declared bounded set, where the window provably
    runs over a frame that does not grow with the data:

    - q58_terasort: the TeraValidate boundary fold — one row per
      partition (P rows, thousands at 100 TB).
    - q125_ds51_cumulative_crossover (and its verbatim text twin
      q204_sql_text_ds51): cumulative sums over the per-DAY channel
      aggregate (|calendar days| rows).
    - q135_quantile_sketch: rank over the bottom-k candidate set
      (k rows by construction).
    - q148_trailing_range_window: trailing RANGE frame over the per-day
      series (|days| rows).
    - q154_cumulative_distinct_users: running first-seen fold over the
      per-day frame (|days| rows).
    - q303_sql_text_ds44: the spec's best/worst rank pair over ONE
      store's HAVING-filtered per-item profit aggregate — an |items|-
      tier dimension frame (the same tier ds36/ds49 window over,
      partitioned there only by 3-valued channel/level keys), already
      reduced by the 0.9x-of-average filter before the window.

    Anything new that shows up here is a scale regression: fix it with
    operators/prefix.py, don't grow the allowlist without a boundedness
    argument."""
    allowed = {
        "q58_terasort",
        "q125_ds51_cumulative_crossover",
        "q204_sql_text_ds51",
        "q135_quantile_sketch",
        "q148_trailing_range_window",
        "q154_cumulative_distinct_users",
        "q303_sql_text_ds44",
    }
    flagged = {}
    for name, q in QUERIES.items():
        df = q.builder(spark, sf_dir)
        bad = _unpartitioned_window_specs(df)
        if bad:
            flagged[name] = bad[0]
    rogue = {k: v for k, v in flagged.items() if k not in allowed}
    assert not rogue, rogue


def test_q160_physical_exchange_count_pinned(spark, sf_dir):
    """Round-7: the SHUFFLE artifact reports EXECUTED exchanges from
    per-stage task metrics, not lineage re-prints (a multi-job prefix
    query re-prints the same exchange once per job — the old textual
    count claimed 53 for q160). Pin q160's true physical count — 10
    shuffle-writing stages at the test partitioning (r12-opt; was 20 in
    the r7-r11 shape): 3 distributed NTILEs at ONE range exchange + one
    P-row count exchange each (the sorted-mid rewrite removed the
    per-branch pid re-shuffle, the pmod summary exchange and the total
    cross-join — operators/prefix.py), plus the shared base aggregate,
    the bucket-recombination hash aggregate, the final 64-row order, and
    one AQE bookkeeping split; every one over the narrow per-entity
    frame. AQE-reused stages (localCheckpoint forks) show as skipped,
    not executed."""
    from spark_s3_shuffle_spark.plans.inspect import executed_shuffle_metrics
    from spark_s3_shuffle_spark.queries.registry import QUERIES

    m = executed_shuffle_metrics(
        spark,
        lambda: QUERIES["q160_rfm_segmentation"].builder(spark, sf_dir).collect(),
        "pin-q160-physical",
    )
    assert m["exchanges_executed"] == 10, m
    assert m["stages_skipped"] > 0  # checkpoint/AQE reuse is real and visible
    assert m["shuffle_write_records"] < 60_000  # narrow frames, never fact-sized


def test_executed_shuffle_metrics_restores_the_callers_job_group(spark):
    """Metering a nested window hands the enclosing job group back: a job
    run after executed_shuffle_metrics still belongs to the outer group,
    and the metered jobs belong to the inner tag only."""
    from spark_s3_shuffle_spark.plans.inspect import executed_shuffle_metrics

    sc = spark.sparkContext
    sc.setJobGroup("restore-outer", "restore-outer")
    try:
        m = executed_shuffle_metrics(
            spark,
            lambda: spark.range(100).groupBy((F.col("id") % 3).alias("g")).count().collect(),
            "restore-inner",
        )
        spark.range(10).count()
    finally:
        sc._jsc.clearJobGroup()
    assert m["exchanges_executed"] >= 1
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    outer = set(sc.statusTracker().getJobIdsForGroup("restore-outer"))
    inner = set(sc.statusTracker().getJobIdsForGroup("restore-inner"))
    assert outer and inner and not outer & inner, (outer, inner)


def test_nested_loop_bound_detector_sees_data_sized_broadcast(spark, sf_dir):
    """Guard against a vacuous bound-checker: a deliberately data-sized
    nested-loop broadcast (every customer row cross-joined) must be
    measured at its true row count by nested_loop_build_rows — the
    plan-audit allowlist bound check relies on this measurement."""
    from spark_s3_shuffle_spark.plans.inspect import nested_loop_build_rows

    c = load_table(spark, sf_dir, "customer")
    n = c.count()
    bad = load_table(spark, sf_dir, "orders").select("o_orderkey").limit(50).crossJoin(
        F.broadcast(c.select("c_custkey"))
    )
    # collect() the SAME DataFrame: the metric lives on its own
    # queryExecution (a derived action like count() builds a new plan)
    bad.collect()
    rows = nested_loop_build_rows(bad)
    assert rows and max(rows) == n, (rows, n)


def test_shuffle_volume_ordering_vs_reference():
    """Round-10 (VERDICT r9 item 1): the engine's executed shuffle volumes
    for the reference's DS headline quartet (published SF1000 volumes:
    q67 66 GB >> q75 20 GB >> q5 9.6 GB >> q49 1.1 GB,
    reference `examples/run_benchmarks.sh:30-33`), measured over
    MATERIALIZED DS tables at sf1 and sf10 (tools/shuffle_volume_proof.py,
    committed artifact SHUFFLE_VOLUMES_r10.json).

    What transfers from the reference is asserted; what cannot transfer is
    pinned with its fixture explanation (SCALE_r10.md §volumes):

    - ds75 >> ds5 and ds67 > ds5 at BOTH SFs (matches the reference's
      q75 >> q5 and q67 >> q5): cross-channel fact-fact joins out-shuffle
      the broadcast-dim channel rollup.
    - ds49 ranks HIGH here but LOWEST in the reference: the fixture's
      returns are 33% of sales (measured) vs real dsdgen's ~10%, and the
      pack's filters are rebound wide for small-SF oracle non-emptiness —
      so its returns-side fact join is proportionally ~3x heavier. Pinned
      as ds49 >= ds75 * 0.5 (they are the same fact-fact class here).
    - ds67 ranks LOW here but HIGHEST in the reference: its volume IS its
      rollup grain, which real dsdgen makes ~1e9 (items x stores x months)
      but this key-replicated fixture bounds by the d_month_seq window
      (measured: the grain tracks the windowed fact slice). Pinned as
      ds67 > ds5 with superlinear-free growth.
    - Growth sf1 -> sf10 is never quadratic: every query's byte ratio is
      within [5, 25] for 10x data (fact-bound ~10-19x — the >10x part is
      the fixture's linearly-scaled dims crossing broadcast thresholds;
      a quadratic plan would read ~100x).
    - Zero spill at sf1; sf10 spill is bounded and memory-provisioning
      (drops with a larger heap — SCALE_r10.md), never a plan change.
    """
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SHUFFLE_VOLUMES_r10.json")
    if not os.path.exists(path):
        pytest.skip("volume artifact not generated")
    art = json.load(open(path))
    per_sf = art["per_sf"]
    assert len(per_sf) == 2
    small, big = sorted(per_sf, key=lambda d: os.path.getsize(
        os.path.join(d + "-ds", "store_sales.parquet")) if os.path.isdir(d + "-ds") else 0)

    def vol(sf, q):
        return per_sf[sf][q]["shuffle_write_bytes"]

    for sf in per_sf:
        ds5, ds49 = vol(sf, "q223_sql_text_ds5"), vol(sf, "q233_sql_text_ds49")
        ds75, ds67 = vol(sf, "q236_sql_text_ds75"), vol(sf, "q238_sql_text_ds67")
        # transfers from the reference: fact-fact >> channel rollup; grain agg > rollup
        assert ds75 > 5 * ds5, (sf, ds75, ds5)
        assert ds67 > ds5, (sf, ds67, ds5)
        # same-class pin: ds49 and ds75 are both cross-channel fact-fact here
        assert ds49 >= 0.5 * ds75, (sf, ds49, ds75)
    for q, g in art["growth"].items():
        assert 5 <= g <= 25, (q, g)  # linear-ish, never quadratic
    for q, m in per_sf[small].items():
        assert m["disk_bytes_spilled"] == 0, (q, m)
