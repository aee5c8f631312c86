"""The repository's benchmark: named workloads in a closed loop (one client,
one op at a time) on ``local[nproc]``.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads (see ``BENCHMARK.json``):

- ``llm_pipeline``: dedup, graph, span-join, text, media-decode and vector
  queries of the registry;
- ``exchange_rw``: a seed-generated frame written, checksummed, read back,
  verified and removed through ``operators/exchange.py`` (local scratch
  root) and ``operators/s3exchange.py`` (a local ``moto_server``), as many
  small objects and as a few over-multipart-threshold ones.

The tables are the sf0.01 fixture set (``perfbench/fixtures/sf0.01``, the
same parquet files the correctness sweep reads), copied into
``.bench_build/perfbench/<run id>/``, which is removed at exit. ``--seed``
orders the queries of every pass and fills the exchange frame. Set-up (the
session start and the workload's warm-up, which for ``exchange_rw`` starts
moto) is repeated SETUP_CYCLES times on fresh SparkContexts; ``setup_s`` is
the median. Untimed priming passes follow (the workload's
``priming_passes``), then the timed window runs whole passes until
``--seconds`` have gone by, and at least MIN_PASSES.

``cpu_s`` is the CPU time of the whole process tree (this process, the
JVM, its Python workers and moto) over the window, per pass. Time the host
steals from the VM is not in it, so it holds still where wall-clock pass
times move with the host's load. The record also keeps ``wall_s``, the sum
over op kinds of each kind's fastest latency in the window (a pass with
every op at its best repetition).

Outputs are checked after the window: query results against the DuckDB
oracle of ``tools/check_correctness.py`` (or, for rows-only queries, one
non-empty digest across draws); exchange reads against the source's row
count and column sums.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs span
wrappers, tags every op's jobs with a job group and prints the per-layer
metrics, as means per pass. Each run also writes a record, never
overwritten, to ``.bench_build/perfbench/runs/<run id>.json``: the run id,
source digest, seed, cpus, sf, every metric, the op latencies and their
tail (when the run has enough ops for one), the spans of a traced run, and
the tracing overhead (this traced wall_s minus the latest untraced wall_s of
the same workload, seed and source digest). The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

#: The fixture set: fixed, so every --seed measures the same tables and only
#: the op order and the exchange frame change.
SF = 0.01
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
SETUP_CYCLES = 3
#: A window has at least this many passes, so every op kind has a second
#: repetition when a busy host slows the first.
MIN_PASSES = 2
DRIVER_MEM = "2g"
#: Hard stop for one run, below the 180 s a run may take.
RUN_LIMIT_S = 170

#: Which end-to-end metric each per-layer metric should move, and where.
LAYER_MOVES = {
    "session.*": "setup_s on all workloads",
    "sources.*": "cpu_s (and the recorded wall_s) on llm_pipeline",
    "queries.*": "cpu_s and wall_s on llm_pipeline",
    "plans.*": "cpu_s on llm_pipeline",
    "exec.*": "cpu_s and wall_s on llm_pipeline; exec.gc_s also peak_rss_mib",
    "shuffle.*": "cpu_s and wall_s on llm_pipeline",
    "udf.*": "cpu_s on llm_pipeline",
    "operators.*": "cpu_s and wall_s on llm_pipeline",
    "exchange.*": "cpu_s and wall_s on exchange_rw; no change on the query workloads",
    "s3x.*": "cpu_s and wall_s on exchange_rw; no change on the query workloads",
}

END_TO_END_UNITS = {
    "setup_s": "s", "cpu_s": "s", "peak_rss_mib": "MiB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["llm_pipeline", "exchange_rw"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "spark_s3_shuffle_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_jvm(spark, tracing) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    children = tracing.worker_pids(proc.pid)
    if spark is not None:
        spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
        proc.kill()
        proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")
                    and _state(p) not in ("Z", "X")]
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        return raw[raw.rindex(")") + 2]
    except (OSError, ValueError):
        return "X"


def _start_session(ws: str):
    from spark_s3_shuffle_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(ws, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
        # no hsperfdata file under /tmp: the run writes inside the checkout only
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(ws, 'tmp')} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(workload, ctx, ws) -> dict:
    """SETUP_CYCLES set-ups on fresh SparkContexts (the JVM starts in the
    first); the last one stays up for the timed window."""
    totals, starts, warms = [], [], []
    for cycle in range(SETUP_CYCLES):
        t0 = time.monotonic()
        ctx.spark = _start_session(ws)
        t1 = time.monotonic()
        workload.warmup(ctx)
        t2 = time.monotonic()
        totals.append(t2 - t0)
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        if cycle < SETUP_CYCLES - 1:
            workload.teardown(ctx)
            ctx.spark.stop()
    return {"totals": totals, "start": starts, "warmup": warms}


def _measure(workload, ctx, seconds: float, min_passes: int, run_deadline: float):
    """Whole passes until ``seconds`` have gone by and ``min_passes`` have
    run, or until one more pass would cross ``run_deadline``."""
    rng = random.Random(ctx.seed)
    results, pass_walls = [], []
    t_start = time.monotonic()
    while True:
        tp = time.monotonic()
        for name in workload.pass_ops(rng):
            results.append(workload.run(ctx, name))
        pass_walls.append(time.monotonic() - tp)
        now = time.monotonic()
        if ((now - t_start >= seconds and len(pass_walls) >= min_passes)
                or now + pass_walls[-1] > run_deadline):
            break
    return results, pass_walls, time.monotonic() - t_start


def _per_layer(ctx, results, passes, window, cpus, setup, udf_cpu_s) -> dict[str, float]:
    import stats
    import tracing

    spans = ctx.tracer.spans()
    per = 1.0 / passes
    self_s = stats.self_time_by_name(spans)
    outer = stats.outer_totals(spans)
    calls = {name: n for name, (n, _) in outer.items()}
    span_s = {name: t for name, (_, t) in outer.items()}
    m: dict[str, float] = {
        "session.start_s": stats.median(setup["start"]),
        "session.first_start_s": setup["start"][0],
        "session.warmup_s": stats.median(setup["warmup"]),
        "sources.load_s": span_s.get("sources.load", 0.0) * per,
    }
    groups = [g for gs in ctx.groups for g in gs]
    counts = tracing.group_counts(ctx.spark, groups)
    build = [counts[g[0]] for g in ctx.groups if g[0].startswith("b")]
    every = list(counts.values())

    def total(rows, key):
        return sum(r[key] for r in rows)

    m["sources.scan_bytes"] = total(every, "input_bytes") * per
    m["sources.scan_records"] = total(every, "input_records") * per
    m["queries.build_s"] = span_s.get("queries.build", 0.0) * per
    m["queries.build_jobs"] = total(build, "jobs") * per
    m["queries.collect_s"] = span_s.get("queries.collect", 0.0) * per
    m["queries.collect_jobs"] = sum(
        counts[g[1]]["jobs"] for g in ctx.groups if len(g) > 1) * per
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_s"] = sum(p[phase] for p in ctx.phases) * per
    jobs = total(every, "jobs")
    run_s = total(every, "run_s")
    m.update({
        "exec.jobs": jobs * per,
        "exec.stages_run": total(every, "stages_run") * per,
        "exec.stages_skipped": total(every, "stages_skipped") * per,
        "exec.reuse_rate": stats.ratio(total(every, "stages_skipped"),
                                       total(every, "stages_run") + total(every, "stages_skipped")),
        "exec.tasks": total(every, "tasks") * per,
        "exec.failed_tasks": total(every, "failed_tasks") * per,
        "exec.run_s": run_s * per,
        "exec.cpu_s": total(every, "cpu_s") * per,
        "exec.gc_s": total(every, "gc_s") * per,
        "exec.utilization": stats.utilization(run_s, window, cpus),
        "queries.barrier_share": stats.ratio(total(build, "jobs"), jobs),
        "shuffle.write_bytes": total(every, "shuffle_write_bytes") * per,
        "shuffle.read_bytes": total(every, "shuffle_read_bytes") * per,
        "shuffle.exchanges": total(every, "exchanges") * per,
        "shuffle.fetch_wait_s": total(every, "fetch_wait_s") * per,
        "shuffle.write_s": total(every, "shuffle_write_s") * per,
        "shuffle.spill_bytes": total(every, "spill_bytes") * per,
        "udf.worker_cpu_s": udf_cpu_s * per,
    })
    for mod in tracing.OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = calls.get(f"operators.{mod}", 0) * per
        m[f"operators.{mod}.self_s"] = self_s.get(f"operators.{mod}", 0.0) * per
    m.update(_exchange_layers(results, span_s, per))
    return m


def _exchange_layers(results, span_s, per) -> dict[str, float]:
    """Figures of the two exchange backends, from their spans and from the
    write ops' own accounting (all zero on the query workloads)."""
    from spark_s3_shuffle_spark.operators.s3exchange import S3Config
    from workloads import INPUT_BYTES

    writes: dict[str, list] = {"exchange": [], "s3x": []}
    for r in results:
        if r.error is None and ".write:" in r.name:
            writes["exchange" if r.name.startswith("fs.") else "s3x"].append(r.value)
    objects = [o for manifest in writes["s3x"] for o in manifest["objects"]]
    stored = {"exchange": sum(st.bytes_written for st in writes["exchange"]),
              "s3x": sum(o["bytes"] for o in objects)}
    m = {}
    for layer, kinds in (("exchange", ("write", "read", "checksum", "verify", "remove")),
                         ("s3x", ("write", "read", "verify", "remove"))):
        for kind in kinds:
            m[f"{layer}.{kind}_s"] = span_s.get(f"{layer}.{kind}", 0.0) * per
        # every stage written is read back once, so both legs move the same bytes
        input_mib = len(writes[layer]) * INPUT_BYTES / (1 << 20)
        for leg in ("write", "read"):
            busy = span_s.get(f"{layer}.{leg}", 0.0)
            m[f"{layer}.{leg}_mib_s"] = input_mib / busy if busy else 0.0
        m[f"{layer}.stored_per_input_byte"] = (
            stored[layer] / (input_mib * (1 << 20)) if input_mib else 0.0)
    threshold = S3Config.multipart_threshold
    m["exchange.bytes_written"] = stored["exchange"] * per
    m["exchange.files"] = sum(st.num_files for st in writes["exchange"]) * per
    m["s3x.bytes"] = stored["s3x"] * per
    m["s3x.objects"] = len(objects) * per
    m["s3x.multipart_objects"] = sum(o["bytes"] >= threshold for o in objects) * per
    return m


def _write_record(runs_dir: str, run_id: str, record: dict) -> str:
    os.makedirs(runs_dir, exist_ok=True)
    path = os.path.join(runs_dir, f"{run_id}.json")
    with open(path, "x") as f:  # never overwrite an earlier record
        json.dump(record, f, indent=1)
    return path


def _latest_untraced_wall(runs_dir: str, workload: str, seed: int, source: str,
                          cpus: int) -> float | None:
    """wall_s of the newest untraced record of the same workload, seed,
    source digest, cpus and sf; None when there is none."""
    best = None
    for path in glob.glob(os.path.join(runs_dir, "*.json")):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if (rec.get("workload") == workload and rec.get("trace") == 0
                and rec.get("seed") == seed and rec.get("source_sha256") == source
                and rec.get("cpus") == cpus and rec.get("sf") == SF
                and (best is None or rec["started_at"] > best[0])):
            best = (rec["started_at"], rec["wall_s"])
    return best[1] if best else None


def _tree_cpu_seconds() -> float:
    """CPU time of this process and all its descendants, reaped ones
    included."""
    import tracing

    me = os.getpid()
    return tracing.cpu_seconds([me] + tracing.worker_pids(me))


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    args = _parse(argv)
    t_run = time.monotonic()
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)

    # The program and the oracle: a checkout without them fails here,
    # before anything starts.
    import check_correctness  # noqa: F401
    import spark_s3_shuffle_spark.queries.registry  # noqa: F401

    import stats
    import tracing
    import workloads

    cpus = len(os.sched_getaffinity(0))
    started_at = dt.datetime.now(dt.timezone.utc)
    run_id = (f"{started_at:%Y%m%dT%H%M%S.%fZ}-{args.workload}-s{args.seed}"
              f"-t{args.trace}-{os.getpid()}")
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    ws = os.path.join(base, run_id)
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(ws, sub), exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(ws, "spark-local"),
        "TMPDIR": os.path.join(ws, "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)

    sf_dir = os.path.join(ws, "data")
    for name in os.listdir(FIXTURES):
        shutil.copyfile(os.path.join(FIXTURES, name), os.path.join(sf_dir, name))
    tracer = tracing.Tracer(bool(args.trace))
    if args.trace:
        tracing.install_wrappers(tracer)
    workload = workloads.make(args.workload)
    ctx = workloads.Context(None, sf_dir, ws, tracer, args.seed)
    try:
        setup = _setup(workload, ctx, ws)
        jvm = _jvm_pid()
        deadline = t_run + RUN_LIMIT_S - 40
        workload.load_inputs(ctx)
        # Untimed passes first, so first-execution costs (code generation,
        # worker start-up, JIT compilation) stay out of the window.
        _, priming, _ = _measure(workload, ctx, 0, workload.priming_passes, deadline)
        ctx.groups.clear()
        ctx.phases.clear()
        tracer.reset()
        cpu0 = tracing.cpu_seconds(tracing.worker_pids(jvm))
        tree0 = _tree_cpu_seconds()
        results, pass_walls, window = _measure(workload, ctx, args.seconds, MIN_PASSES,
                                               deadline)
        tree_cpu_s = _tree_cpu_seconds() - tree0
        workers = tracing.worker_pids(jvm)
        udf_cpu_s = tracing.cpu_seconds(workers) - cpu0
        rss = {"jvm": tracing.hwm_mib([jvm]), "workers": tracing.hwm_mib(workers)}
        fastest = stats.fastest_by_kind([(r.name.split("-")[0], r.latency) for r in results])
        wall_s = sum(fastest.values())
        tail = stats.tail([r.latency for r in results])
        end_to_end = {
            "setup_s": stats.median(setup["totals"]),
            "cpu_s": tree_cpu_s / len(pass_walls),
            "peak_rss_mib": rss["jvm"] + rss["workers"],
        }
        per_layer = (_per_layer(ctx, results, len(pass_walls), window, cpus, setup, udf_cpu_s)
                     if args.trace else {})
        workload.check(ctx, results)
    finally:
        try:
            workload.teardown(ctx)
        finally:
            _stop_jvm(ctx.spark, tracing)
            shutil.rmtree(ws, ignore_errors=True)
    signal.alarm(0)

    failed = sum(1 for r in results if not r.ok)
    runs_dir = os.path.join(base, "runs")
    source = _source_digest()
    record = {
        "run_id": run_id,
        "started_at": started_at.isoformat(),
        "source_sha256": source,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cpus": cpus,
        "sf": SF,
        "client": "closed loop, 1 client",
        "passes": len(pass_walls),
        "wall_s": wall_s,
        "pass_walls_s": pass_walls,
        "window_s": window,
        "run_s": time.monotonic() - t_run,
        "setup_cycles_s": setup["totals"],
        "priming_passes_s": priming,
        "attempted": len(results),
        "failed": failed,
        "failed_frac": failed / len(results),
        "failures": [{"op": r.name, "error": r.error} for r in results if not r.ok],
        # exchange_rw's 36 ops have one; llm_pipeline's 12 do not
        "op_tail": ({"percentile": tail.name, "value_s": tail.value, "samples": tail.samples,
                     "beyond": tail.beyond} if tail else None),
        "peak_rss_mib_by_process": rss,
        "metrics": {**end_to_end, **per_layer},
        "layer_moves": LAYER_MOVES,
        "ops": [[r.name, round(r.latency, 6), r.ok] for r in results],
    }
    if args.trace:
        untraced = _latest_untraced_wall(runs_dir, args.workload, args.seed, source, cpus)
        record["tracing_overhead_s"] = (
            wall_s - untraced if untraced is not None else None)
        record["spans"] = [[s.name, s.start, s.end, s.parent] for s in tracer.spans()]
    path = _write_record(runs_dir, run_id, record)

    print(f"{args.workload}: {len(pass_walls)} passes, {len(results)} ops, {failed} failed, "
          f"wall_s {wall_s:.3f}; record {os.path.relpath(path, ROOT)}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(results), "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("mib_s"):
        return "MiB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_rate", "_share", "utilization", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
