"""The benchmark's workloads: what each sets up, the ops of one pass, and
how each op's output is checked.

An op is one closed-loop request: the benchmark starts the next op only
after the previous one returned. Each op returns an :class:`OpResult`; the
checks run after the timed window.
"""

from __future__ import annotations

import hashlib
import os
import random
import socket
import subprocess
import time
import zlib
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from tracing import plan_phases


@dataclass
class Context:
    spark: object
    sf_dir: str
    scratch: str
    tracer: object
    seed: int
    #: per traced op, its job groups: builder and final action for a query,
    #: one group for an exchange op
    groups: list[tuple[str, ...]] = field(default_factory=list)
    phases: list[dict[str, float]] = field(default_factory=list)
    #: job group tags handed out so far; never reset, so the timed window
    #: reuses no tag of the priming passes
    tags_used: int = 0

    def new_tag(self, prefix: str = "") -> str | None:
        """A fresh job group tag for one traced op; None when untraced."""
        if not self.tracer.enabled:
            return None
        self.tags_used += 1
        return f"{prefix}{self.tags_used}"


@dataclass
class OpResult:
    name: str
    latency: float
    ok: bool = True  # set False by the checks
    error: str | None = None
    columns: list[str] | None = None
    rows: list | None = None
    value: object = None


def _set_group(ctx: Context, group: str | None) -> None:
    sc = ctx.spark.sparkContext
    if group is None:
        sc._jsc.clearJobGroup()
    else:
        sc.setJobGroup(group, group)


class QueryWorkload:
    """Registry queries, built and collected one at a time. Each pass runs
    every query once, in an order drawn from the seed."""

    #: Passes keep getting faster while the JVM compiles the planner's hot
    #: paths: passes 2 to 7 took 10.4, 8.1, 6.5, 6.8, 6.6 and 7.0 s on 4
    #: cores. The window starts at pass 3 and wall_s takes each query's
    #: fastest repetition, which from pass 4 on is on the flat part.
    priming_passes = 2

    def __init__(self, names: list[str], warmup: str):
        self.names = names
        self.warmup_name = warmup

    def warmup(self, ctx: Context) -> None:
        self._query(ctx, self.warmup_name, None)

    def load_inputs(self, ctx: Context) -> None:
        pass

    def teardown(self, ctx: Context) -> None:
        pass

    def pass_ops(self, rng: random.Random) -> list[str]:
        order = list(self.names)
        rng.shuffle(order)
        return order

    def run(self, ctx: Context, name: str) -> OpResult:
        tag = ctx.new_tag()
        t0 = time.monotonic()
        try:
            df, rows = self._query(ctx, name, tag)
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            return OpResult(name, time.monotonic() - t0, ok=False, error=f"{type(e).__name__}: {e}")
        res = OpResult(name, time.monotonic() - t0, columns=df.columns,
                       rows=[tuple(r) for r in rows])
        if tag is not None:
            ctx.groups.append((f"b{tag}", f"c{tag}"))
            ctx.phases.append(plan_phases(df))
        return res

    def _query(self, ctx: Context, name: str, tag: str | None):
        from spark_s3_shuffle_spark.queries.registry import QUERIES

        tr = ctx.tracer
        with tr.span("op"):
            if tag is not None:
                _set_group(ctx, f"b{tag}")
            try:
                with tr.span("queries.build"):
                    df = QUERIES[name].builder(ctx.spark, ctx.sf_dir)
                if tag is not None:
                    _set_group(ctx, f"c{tag}")
                with tr.span("queries.collect"):
                    rows = df.collect()
            finally:
                if tag is not None:
                    _set_group(ctx, None)
        return df, rows

    def check(self, ctx: Context, results: list[OpResult]) -> None:
        """Oracle-backed queries must equal DuckDB's answer on the same
        parquet; rows-only queries must be non-empty with one digest across
        draws. Marks mismatching results not ok."""
        from check_correctness import duck_connection, rows_canon
        from spark_s3_shuffle_spark.queries.registry import QUERIES

        con = duck_connection(ctx.sf_dir)
        want: dict[str, object] = {}
        try:
            for r in results:
                if r.error is not None:
                    r.ok = False
                    continue
                got = rows_canon(r.columns, r.rows)
                if r.name not in want:
                    oracle = QUERIES[r.name].oracle
                    if oracle is None:
                        want[r.name] = _digest(got) if got else None
                    else:
                        cur = con.execute(oracle)
                        cols = [d[0] for d in cur.description]
                        if sorted(cols) != sorted(r.columns):
                            want[r.name] = None
                        else:
                            want[r.name] = _digest(rows_canon(cols, cur.fetchall()))
                r.ok = want[r.name] is not None and _digest(got) == want[r.name]
        finally:
            con.close()


def _digest(canon_rows) -> str:
    return hashlib.sha256(repr(canon_rows).encode()).hexdigest()


# -- exchange round trips --------------------------------------------------------

#: (shape, partitions): the same frame written as many objects below the
#: 8 MiB multipart threshold, or as a few objects above it.
SHAPES = (("small", 16), ("large", 2))
FRAME_ROWS = 260_000
#: The frame's size in memory: per row, k and v (int64) plus a 64-char
#: payload with its 4-byte string offset.
INPUT_BYTES = FRAME_ROWS * (8 + 8 + 64 + 4)


class MotoServer:
    """A local S3 endpoint (``moto_server``) on a free loopback port."""

    def __init__(self, workdir: str):
        self.workdir = workdir
        self.proc: subprocess.Popen | None = None
        self.port = 0

    def start(self, timeout: float = 60.0) -> str:
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        self.proc = subprocess.Popen(
            ["moto_server", "-H", "127.0.0.1", "-p", str(self.port)],
            cwd=self.workdir, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        deadline = time.monotonic() + timeout
        while True:
            try:
                with socket.create_connection(("127.0.0.1", self.port), 0.2):
                    return f"http://127.0.0.1:{self.port}"
            except OSError:
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    self.stop()
                    raise RuntimeError("moto_server did not come up")
                time.sleep(0.05)

    def stop(self) -> None:
        if self.proc is None:
            return
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc = None


class ExchangeWorkload:
    """A seed-generated frame round-trips through both exchange backends:
    ``operators/exchange.py`` under a local scratch root and
    ``operators/s3exchange.py`` against moto, in both object shapes."""

    #: Passes after the first are flat (8.3 to 9.0 s on 4 cores).
    priming_passes = 1

    def __init__(self):
        self.moto: MotoServer | None = None
        self.frames: dict[str, object] = {}
        self.fs = None
        self.s3 = None
        #: row count, sum(k), sum(v) and sum(crc32(payload)) of the frame
        self.expected: tuple[int, ...] = ()
        self._stage_no = 0

    def load_inputs(self, ctx: Context) -> None:
        """Cache the seed's frame once per shape, so the timed ops measure
        the exchange and not the frame's generation."""
        mult, add = 7919, ctx.seed % 1000
        for shape, parts in SHAPES:
            frame = ctx.spark.range(FRAME_ROWS, numPartitions=parts).select(
                F.col("id").alias("k"),
                ((F.col("id") * mult + add) % 1000).alias("v"),
                F.sha2(F.concat_ws(":", F.lit(str(ctx.seed)), F.col("id").cast("string")), 256)
                .alias("payload"),
            ).cache()
            frame.count()
            self.frames[shape] = frame
        self.expected = (
            FRAME_ROWS,
            FRAME_ROWS * (FRAME_ROWS - 1) // 2,
            sum((i * mult + add) % 1000 for i in range(FRAME_ROWS)),
            sum(zlib.crc32(hashlib.sha256(f"{ctx.seed}:{i}".encode()).hexdigest().encode())
                for i in range(FRAME_ROWS)),
        )

    def warmup(self, ctx: Context) -> None:
        """Start moto, create the bucket and both managers, then round-trip
        a tiny stage through the file backend."""
        from spark_s3_shuffle_spark.operators.exchange import ExchangeManager
        from spark_s3_shuffle_spark.operators.s3exchange import S3Config, S3ExchangeManager

        self.moto = MotoServer(ctx.scratch)
        cfg = S3Config(endpoint_url=self.moto.start(), bucket="bench-exchange")
        cfg.client().create_bucket(Bucket=cfg.bucket)
        self.s3 = S3ExchangeManager(ctx.spark, cfg, app_id="bench")
        self.fs = ExchangeManager(ctx.spark, "file://" + os.path.join(ctx.scratch, "exchange"))
        small = ctx.spark.range(1000, numPartitions=2).select(
            F.col("id").alias("k"), F.col("id").alias("v"), F.lit("x").alias("payload"))
        self.fs.stage_write(small, "warmup")
        self.fs.stage_read("warmup").agg(F.sum("v")).first()
        self.fs.remove_stage("warmup")

    def teardown(self, ctx: Context) -> None:
        for frame in self.frames.values():
            frame.unpersist()
        self.frames.clear()
        if self.moto is not None:
            self.moto.stop()
            self.moto = None

    def pass_ops(self, rng: random.Random) -> list[str]:
        self._stage_no += 1
        ops = []
        for shape, _ in SHAPES:
            stage = f"{shape}-{self._stage_no}"
            ops += [f"fs.write:{stage}", f"fs.checksum:{stage}", f"fs.read:{stage}",
                    f"fs.verify:{stage}", f"fs.remove:{stage}",
                    f"s3x.write:{stage}", f"s3x.read:{stage}", f"s3x.verify:{stage}",
                    f"s3x.remove:{stage}"]
        return ops

    def run(self, ctx: Context, name: str) -> OpResult:
        from spark_s3_shuffle_spark.operators.exchange import (
            verify_stage_checksum, write_stage_checksum,
        )

        op, stage = name.split(":")
        backend, kind = op.split(".")
        layer = "exchange" if backend == "fs" else "s3x"
        frame = self.frames[stage.split("-")[0]]
        mgr = self.fs if backend == "fs" else self.s3
        tag = ctx.new_tag("x")
        t0 = time.monotonic()
        try:
            with ctx.tracer.span("op"), ctx.tracer.span(f"{layer}.{kind}"):
                if tag is not None:
                    _set_group(ctx, tag)
                try:
                    if kind == "write":
                        value = mgr.stage_write(frame, stage)
                    elif kind == "checksum":
                        value = write_stage_checksum(mgr, stage)
                    elif kind == "read":
                        # every column is aggregated, so the whole stage is decoded
                        row = mgr.stage_read(stage).agg(
                            F.count(F.lit(1)), F.sum("k"), F.sum("v"),
                            F.sum(F.crc32(F.col("payload").cast("binary")))).first()
                        value = tuple(int(x) for x in row)
                    elif kind == "verify":
                        value = (verify_stage_checksum(mgr, stage) if backend == "fs"
                                 else mgr.verify(stage))
                    else:
                        value = mgr.remove_stage(stage)
                finally:
                    if tag is not None:
                        _set_group(ctx, None)
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            return OpResult(name, time.monotonic() - t0, ok=False, error=f"{type(e).__name__}: {e}")
        if tag is not None:
            ctx.groups.append((tag,))
        return OpResult(name, time.monotonic() - t0, value=value)

    def check(self, ctx: Context, results: list[OpResult]) -> None:
        """Reads must give back the source's row count and column sums, an
        S3 manifest and a content checksum must count every row, a file write
        must leave bytes, verification must pass and removal must delete
        something."""
        for r in results:
            if r.error is not None:
                r.ok = False
                continue
            kind = r.name.split(":")[0].split(".")[1]
            v = r.value
            if kind == "write":
                rows = v["total_rows"] if isinstance(v, dict) else None
                r.ok = (rows == FRAME_ROWS) if rows is not None else v.bytes_written > 0
            elif kind == "checksum":
                r.ok = v["rows"] == FRAME_ROWS
            elif kind == "read":
                r.ok = v == self.expected
            elif kind == "verify":
                r.ok = v is True
            else:
                r.ok = bool(v)


LLM_PIPELINE = QueryWorkload(
    ["q42_minhash_dedup", "q137_pagerank_trade_graph", "q93_duplicated_spans",
     "q40_lang_id", "q319_jpeg_decode", "q34_cosine_topk"],
    warmup="q40_lang_id",
)


def make(name: str):
    if name == "llm_pipeline":
        return LLM_PIPELINE
    if name == "exchange_rw":
        return ExchangeWorkload()
    raise ValueError(f"unknown workload {name!r}")
