"""Tracing for the benchmark's per-layer split.

Spans are recorded in memory by the benchmark's own code around its calls
into each layer, and by wrappers it installs on the public functions of the
operator modules and the source loaders (traced runs only). Counts come
afterwards from Spark's AppStatusStore, per job group, the way
``plans/inspect.py:executed_shuffle_metrics`` reads them, and from /proc for
the JVM and the Python worker processes.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import time
from contextlib import contextmanager

from stats import Span

#: Operator modules whose public functions get a span each (traced runs).
OPERATOR_MODULES = (
    "dedup", "graph", "similarity", "text", "multimodal", "prefix",
    "pipeline", "relational",
)
_PKG = "spark_s3_shuffle_spark"


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread; a
    disabled tracer records nothing and costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._rows: list[list] = []  # [name, start, end, parent]
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self._rows)
        self._rows.append([name, time.monotonic(), None, self._stack[-1] if self._stack else None])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self._rows[idx][2] = time.monotonic()

    def reset(self) -> None:
        self._rows.clear()
        self._stack.clear()

    def spans(self) -> list[Span]:
        return [Span(n, s, e, p) for n, s, e, p in self._rows if e is not None]


def _wrap(fn, name: str, tracer: Tracer):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def _public_functions(module) -> dict[str, object]:
    """Plain functions defined in ``module`` under a public name. pandas /
    Arrow UDF objects carry an ``evalType`` and are left alone."""
    return {
        k: v for k, v in vars(module).items()
        if not k.startswith("_") and inspect.isfunction(v)
        and v.__module__ == module.__name__ and not hasattr(v, "evalType")
    }


def install_wrappers(tracer: Tracer) -> None:
    """Replace each operator module's public functions, and the source
    loaders, with span-recording wrappers, in every loaded module of the
    package that refers to them. ``functools.wraps`` keeps the module and
    qualified name, so a wrapper captured in a UDF closure pickles by
    reference and the workers run the original."""
    import importlib

    targets: dict[int, object] = {}
    for m in OPERATOR_MODULES:
        mod = importlib.import_module(f"{_PKG}.operators.{m}")
        for fn in _public_functions(mod).values():
            targets[id(fn)] = _wrap(fn, f"operators.{m}", tracer)
    catalog = importlib.import_module(f"{_PKG}.sources.catalog")
    for fname in ("load_table", "register_temp_views"):
        fn = getattr(catalog, fname)
        targets[id(fn)] = _wrap(fn, "sources.load", tracer)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == _PKG or modname.startswith(_PKG + ".")):
            continue
        for k, v in list(vars(mod).items()):
            w = targets.get(id(v))
            if w is not None:
                setattr(mod, k, w)


# -- AppStatusStore -----------------------------------------------------------

STAGE_FIELDS = (
    "stages_run", "stages_skipped", "tasks", "failed_tasks", "run_s", "cpu_s",
    "gc_s", "input_bytes", "input_records", "shuffle_write_bytes",
    "shuffle_read_bytes", "exchanges", "fetch_wait_s", "shuffle_write_s",
    "spill_bytes",
)


def group_counts(spark, groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: job count plus the summed stage metrics of its jobs."""
    sc = spark.sparkContext
    jvm = sc._jvm
    tracker = sc.statusTracker()
    stage_ids: dict[str, set[int]] = {}
    out: dict[str, dict[str, float]] = {}
    for g in groups:
        jids = tracker.getJobIdsForGroup(g)
        sids: set[int] = set()
        for jid in jids:
            info = tracker.getJobInfo(jid)
            if info:
                sids.update(int(s) for s in info.stageIds)
        stage_ids[g] = sids
        out[g] = {"jobs": float(len(jids)), **{f: 0.0 for f in STAGE_FIELDS}}
    owner = {sid: g for g, sids in stage_ids.items() for sid in sids}
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    for i in range(stages.size()):
        s = stages.apply(i)
        g = owner.get(int(s.stageId()))
        if g is None:
            continue
        agg = out[g]
        if str(s.status()) == "SKIPPED":
            agg["stages_skipped"] += 1
            continue
        agg["stages_run"] += 1
        agg["tasks"] += int(s.numTasks())
        agg["failed_tasks"] += int(s.numFailedTasks())
        agg["run_s"] += int(s.executorRunTime()) / 1e3
        agg["cpu_s"] += int(s.executorCpuTime()) / 1e9
        agg["gc_s"] += int(s.jvmGcTime()) / 1e3
        agg["input_bytes"] += int(s.inputBytes())
        agg["input_records"] += int(s.inputRecords())
        wb = int(s.shuffleWriteBytes())
        agg["shuffle_write_bytes"] += wb
        agg["shuffle_read_bytes"] += int(s.shuffleReadBytes())
        agg["exchanges"] += 1 if wb > 0 else 0
        agg["fetch_wait_s"] += int(s.shuffleFetchWaitTime()) / 1e3
        agg["shuffle_write_s"] += int(s.shuffleWriteTime()) / 1e9
        agg["spill_bytes"] += int(s.diskBytesSpilled()) + int(s.memoryBytesSpilled())
    return out


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of a DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# -- /proc ----------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                kids.setdefault(int(st[1]), []).append(int(entry))
    return kids


def worker_pids(pid: int) -> list[int]:
    """The descendant processes of ``pid``; for the JVM, the pyspark daemon
    and its workers."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime, plus that of reaped children, summed over ``pids``."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def hwm_mib(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024
