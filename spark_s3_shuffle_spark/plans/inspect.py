"""Physical-plan inspection utilities.

The engine's scale guarantees are plan properties — filters pushed to the
scan, dims broadcast, whole-stage codegen fused, no unexpected exchanges.
These helpers capture ``explain`` output so tests can ASSERT those
properties instead of hoping (SURVEY "optimize for scale" checklist).
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_has(df: DataFrame, *needles: str) -> bool:
    plan = formatted_plan(df)
    return all(n.lower() in plan.lower() for n in needles)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from the scan nodes (empty list = nothing
    reached the parquet reader — a scale bug for selective queries)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column sets each scan actually reads (column pruning check: a scan
    reading all columns for a 2-column projection is wrong)."""
    plan = formatted_plan(df)
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        schemas.append(cols)
    return schemas


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan. Every exchange is a full network/object-
    store round trip at scale — tests pin expected counts for key plans.
    Counts node-detail headers only (each node appears twice in formatted
    output: once in the tree, once as ``(n) Exchange``)."""
    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}


def shuffle_volumes(df: DataFrame) -> list[dict]:
    """Per-exchange shuffle volume of an EXECUTED DataFrame (run an action
    first): AQE stamps materialized ShuffleQueryStage nodes with
    ``Statistics(sizeInBytes=…, rowCount=…)`` in the explain output. This is
    the engine's analogue of the reference's per-query shuffle-volume
    numbers (BASELINE.md's q5=9.6GB table) and of its write-side metering
    (S3MeasureOutputStream.scala:8-65) — measured, per stage, no listener
    plumbing."""
    plan = formatted_plan(df)
    out = []
    for m in re.finditer(
        r"ShuffleQueryStage \(\d+\), Statistics\(sizeInBytes=([\d.]+)\s*(\w+)(?:, rowCount=([\d.E+]+))?\)",
        plan,
    ):
        unit = m.group(2)
        if unit not in _SIZE_UNITS:
            # never silently treat an unknown unit as bytes — at the scales
            # this tool targets that underreports by up to 2^50
            raise ValueError(f"unknown size unit {unit!r} in plan statistics: {m.group(0)}")
        size = float(m.group(1)) * _SIZE_UNITS[unit]
        rows = int(float(m.group(3))) if m.group(3) else None
        out.append({"bytes": int(size), "rows": rows})
    return out


def total_shuffle_bytes(df: DataFrame) -> int:
    return sum(s["bytes"] for s in shuffle_volumes(df))


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans — wider is better (fewer breaks out
    of generated code). Spark renders them as ``WholeStageCodegen (n)`` in
    tree mode, ``*(n)`` in simple mode, and a bare ``*`` prefix in formatted
    mode; count whichever notation appears. AQE plans hide the markers until
    stages materialize — inspect with AQE off for a static answer."""
    plan = formatted_plan(df)
    spans = set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)) | set(re.findall(r"\*\((\d+)\)", plan))
    if spans:
        return len(spans)
    return 1 if re.search(r"^\s*(?:[+:]-\s*)?\* ", plan, re.MULTILINE) else 0


#: The local properties ``SparkContext.setJobGroup`` sets on the thread.
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def job_group(spark, tag: str):
    """Run the block's jobs under job group ``tag``. Job groups are
    thread-local, so jobs other threads run meanwhile stay outside it. On
    exit the caller's own group (or none) is restored, so a tagged window
    nested in an outer one hands the outer group back."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    sc.setJobGroup(tag, tag)
    try:
        yield
    finally:
        for k, v in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)  # None removes the property


def group_stages(spark, tag: str) -> tuple[list, int]:
    """(stage records, missing) for every job run under job group ``tag``:
    the AppStatusStore's ``StageData`` of each stage attempt of those jobs,
    and how many of their stage ids the store no longer holds.

    The store is filled by a listener on Spark's asynchronous event bus,
    so the bus is drained first: a stage whose completion event is still
    queued would otherwise read as RUNNING with partial task metrics.

    Eviction guard: the store retains only ``spark.ui.retainedStages``
    entries (Spark default 1000), so in a long sweep stages of an earlier
    job can be evicted by later work. ``get_spark`` raises the retention
    for tool sessions; independently, ``missing`` counts the tagged stage
    ids NOT found, so a caller can flag an undercount instead of
    reporting a clean low number."""
    sc = spark.sparkContext
    jvm = sc._jvm
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    sids = set()
    for jid in tracker.getJobIdsForGroup(tag):
        info = tracker.getJobInfo(jid)
        if info:
            sids.update(int(s) for s in info.stageIds)
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    found = [s for s in (stages.apply(i) for i in range(stages.size()))
             if int(s.stageId()) in sids]
    return found, len(sids - {int(s.stageId()) for s in found})


def executed_shuffle_metrics(spark, run, tag: str) -> dict:
    """PHYSICAL shuffle facts of everything ``run()`` executes, from the
    AppStatusStore's per-stage listener metrics (round-7: replaces
    textual exchange counts, which re-print the lineage — a multi-job
    query like the prefix machinery shows the same exchange once per
    re-print, and AQE-reused or skipped stages never execute at all).

    Runs ``run()`` under job group ``tag`` (:func:`job_group`), then
    aggregates the stages of exactly those jobs (:func:`group_stages`):
    shuffle write/read bytes+records actually moved, the number of stages
    that wrote shuffle output (= executed exchanges), and spill. Stages
    with status SKIPPED (reused exchange) contribute zero — precisely the
    difference between the plan text and what ran. Mirrors the
    reference's write-side metering (S3MeasureOutputStream.scala:8-65) at
    stage granularity. Tagged stages the store has evicted mark the
    result ``"partial": True`` with their count in
    ``"missing_stage_ids"``."""
    with job_group(spark, tag):
        result = run()
    stages, missing = group_stages(spark, tag)
    agg = {
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "shuffle_read_bytes": 0,
        "shuffle_read_records": 0,
        "exchanges_executed": 0,
        "stages_run": 0,
        "stages_skipped": 0,
        "disk_bytes_spilled": 0,
        "memory_bytes_spilled": 0,
    }
    for s in stages:
        if str(s.status()) == "SKIPPED":
            agg["stages_skipped"] += 1
            continue
        agg["stages_run"] += 1
        wb = int(s.shuffleWriteBytes())
        agg["shuffle_write_bytes"] += wb
        agg["shuffle_write_records"] += int(s.shuffleWriteRecords())
        agg["shuffle_read_bytes"] += int(s.shuffleReadBytes())
        agg["shuffle_read_records"] += int(s.shuffleReadRecords())
        agg["disk_bytes_spilled"] += int(s.diskBytesSpilled())
        agg["memory_bytes_spilled"] += int(s.memoryBytesSpilled())
        if wb > 0:
            agg["exchanges_executed"] += 1
    if missing:
        agg["partial"] = True
        agg["missing_stage_ids"] = missing
    agg["result"] = result
    return agg


def _plan_children(node):
    """Children of an executed-plan node, descending through the adaptive
    wrappers (AdaptiveSparkPlan -> final plan, QueryStage -> inner plan,
    ReusedExchange -> original)."""
    name = node.nodeName()
    kids = []
    ch = node.children()
    for i in range(ch.size()):
        kids.append(ch.apply(i))
    try:
        if "QueryStage" in name:
            kids.append(node.plan())
    except Exception:
        pass
    try:
        if name == "AdaptiveSparkPlan":
            kids = [node.executedPlan()]
    except Exception:
        pass
    try:
        if name == "ReusedExchange":
            kids.append(node.child())
    except Exception:
        pass
    return kids


def _metric(node, key: str):
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == key:
            return int(kv._2().value())
    return None


def nested_loop_build_rows(df: DataFrame) -> list[int]:
    """numOutputRows of every BroadcastExchange feeding a nested-loop
    join in the EXECUTED plan (run an action first) — the measured size
    of each declared "small" broadcast. Round-7: turns the plan-audit
    nested-loop allowlist from name-keyed to bound-checked: a 1-row
    scalar broadcast that silently grows data-sized fails the audit
    instead of hiding behind its name. Each nested-loop node's build
    side is found by DFS that prunes at any OTHER join/shuffle subtree,
    so nested equi-join broadcasts are not misattributed."""
    root = df._jdf.queryExecution().executedPlan()
    all_nodes = []

    def walk(n):
        all_nodes.append(n)
        for k in _plan_children(n):
            walk(k)

    walk(root)
    out: list[int] = []
    for n in all_nodes:
        nm = n.nodeName()
        if "NestedLoop" not in nm and "Cartesian" not in nm:
            continue
        for c in _plan_children(n):
            cm = c.nodeName()
            if "Join" in cm or "Cartesian" in cm:
                continue  # streamed side rooted at another join
            stack = [c]
            while stack:
                x = stack.pop()
                xm = x.nodeName()
                if "BroadcastExchange" in xm:
                    v = _metric(x, "numOutputRows")
                    if v is not None:
                        out.append(v)
                    continue
                if x is not c and (
                    "Join" in xm or "Cartesian" in xm or "ShuffleExchange" in xm
                ):
                    continue
                stack.extend(_plan_children(x))
    return out
