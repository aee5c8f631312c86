"""Iterative graph algorithms as DataFrame algebra (round-5 tier).

The reference has no graph surface (it is a batch shuffle plugin whose
workloads are TPC-DS SQL and TeraSort — SURVEY §0/§3), but an iterative
fixed-point computation is the canonical stress test of a shuffle layer:
every PageRank step is exactly the map-side-combined exchange the
reference's S3 writer materializes (`S3ShuffleMapOutputWriter.scala`,
cited per SURVEY A2). This module expresses the iteration Spark-first —
joins + aggregations per step, no RDDs, no driver-side loops over data.

Determinism: ranks are kept in FIXED-POINT integer arithmetic (scaled
bigints, truncating division) so every step is exact — no float
summation order anywhere — which is what lets a DuckDB oracle replay a
fixed-iteration run bit-for-bit (registry q137). The trade-off (rank
mass truncated by <= 1 unit per edge per step) is a deliberate part of
the declared semantics, identical on both engines.

Scale shape per iteration: the rank frame is |nodes| rows — broadcast
into the edge join (no shuffle of the edge table after the initial
edge-weight build) — and the contribution aggregate is a map-side-
combined exchange carrying at most |nodes| rows per upstream partition.
With E edges and N nodes per iteration cost is one scan of the cached
edge frame + one bounded exchange; nothing is quadratic and nothing
round-trips through the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.operators.materialize import materialize

#: Fixed-point scale: ranks are stored as r * 2^0 * 10^12 bigints.
SCALE = 10**12


def edge_weights(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Collapse raw (src, dst) pair observations into a weighted edge
    list ``(src, dst, w)`` — one row per distinct edge."""
    return (
        pairs.groupBy(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over an ``(src, dst, w)`` edge
    list, entirely in scaled-integer arithmetic.

    Per step, for each node d:
        r'(d) = (1-a)*SCALE  +  a * sum over in-edges (s,d) of
                                  floor(r(s) * w(s,d) / out_w(s))
    with a = damping_num/damping_den applied as exact integer
    ``(num * x) DIV den``. Dangling nodes (no out-edges) simply do not
    contribute (their mass is truncated — the declared variant; both
    engines agree). Returns ``(n, r)`` with ``r`` the scaled bigint rank.

    The node set, out-weights, and the joined edge frame are computed
    once and reused across iterations; the per-node contribution frame
    (<= |nodes| rows) is broadcast into each step's edge join so the edge
    table never reshuffles after its initial build.

    Iteration shape (r12-opt): the rank update
    ``r(n) = base + (num * coalesce(contrib(n), 0)) DIV den`` is folded
    INLINE into the next step's edge join instead of materializing a
    per-iteration rank frame — step i left-joins the edge frame with the
    broadcast contrib of step i-1 and evaluates the rank expression on
    the joined row. That is value-identical (pure expression
    substitution; edges whose src earned no contribution see NULL ->
    coalesce -> base, exactly the rank the old |nodes|-row left join
    assigned), but it halves the serial broadcast-job chain: one
    broadcast (contrib) per iteration instead of two (contrib + rebuilt
    ranks). Iteration 0's rank is the uniform ``SCALE DIV nn`` so the
    first step needs only the 1-row node-count broadcast.
    """
    nodes = materialize(
        edges.select(F.col("src").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    # The edge frame is scanned once per iteration.
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    e = materialize(edges.join(outw, "src").select("src", "dst", "w", "ow"))
    # |nodes| as a 1-row broadcast frame — no driver-side count action.
    nn = nodes.agg(F.count(F.lit(1)).alias("nn"))
    base = SCALE * (damping_den - damping_num) // damping_den
    rank_of_contrib = (
        f"CAST({base} AS BIGINT)"
        f" + ({damping_num} * coalesce(contrib, CAST(0 AS BIGINT)))"
        f" DIV {damping_den}"
    )
    if iterations <= 0:
        return nodes.crossJoin(F.broadcast(nn)).select(
            "n", F.expr(f"CAST({SCALE} AS BIGINT) DIV nn").alias("r")
        )
    contrib = None
    for _ in range(iterations):
        if contrib is None:
            joined = e.crossJoin(F.broadcast(nn))
            r_sql = f"CAST({SCALE} AS BIGINT) DIV nn"
        else:
            joined = e.join(
                F.broadcast(contrib.withColumnRenamed("dst", "src")),
                "src",
                "left",
            )
            r_sql = rank_of_contrib
        contrib = (
            joined
            # r is ~SCALE (1e12) and w an unbounded observation count, so
            # the product can exceed 2^63 at full corpus scale; accumulate
            # it in decimal(38,0) (the sketch modules' exact-arithmetic
            # style) so the truncating division stays exact instead of
            # silently wrapping in non-ANSI mode. IntegralDivide on
            # decimals still yields the bigint quotient both engines agree
            # on.
            .select(
                "dst",
                F.expr(f"(CAST(({r_sql}) AS DECIMAL(38,0)) * w) DIV ow").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
    return nodes.join(
        F.broadcast(contrib), nodes["n"] == contrib["dst"], "left"
    ).select("n", F.expr(rank_of_contrib).cast("long").alias("r"))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle census over an undirected edge list — one row of
    ``(n_nodes, n_edges, n_wedges, n_triangles, clustering_ppm)``.

    ``edges`` is a distinct ``(a, b)`` frame with ``a < b`` (one row per
    undirected edge). Counting uses DEGREE-ORDERED ORIENTATION — the
    standard O(E^1.5) bound (Schank & Wagner's forward algorithm; also
    the MapReduce formulation in Suri & Vassilvitskii, WWW'11): each
    edge is oriented from its lower-(degree, id) endpoint to the higher,
    every triangle is generated exactly once from its lowest-key vertex
    as an out-wedge, and the wedge-join fan-out is bounded by
    sum(outdeg^2) <= O(E^1.5) instead of the sum(deg^2) a naive
    adjacency join pays — on a power-law graph at 100 TB scale that is
    the difference between the hub node exploding (deg^2 with deg ~ 1e6)
    and every vertex carrying at most sqrt(E) out-edges. The result is
    orientation-INDEPENDENT, so the DuckDB oracle can replay it with the
    naive a < b < c join and must agree exactly (registry q327).

    Shuffle shape: degree build is one map-side-combined exchange of
    endpoint keys; the degree frame (|nodes| rows) broadcasts back onto
    edges; the wedge self-join shuffles oriented edges on ``src`` and
    the closing join shuffles wedges on ``(v, w)`` — all key-bounded,
    nothing driver-side. Counts are exact integers end-to-end;
    ``clustering_ppm`` is the one fixed-point division
    (3 * triangles * 10^6) DIV wedges, exact on both engines.
    """
    e = edges.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
    # deg and oriented feed multiple branches — materialize so the
    # executed job computes each ONCE (the q137 pattern; the textual plan
    # re-prints the build lineage per reference, but the job does not).
    deg = materialize(
        e.select(F.col("a").alias("n")).unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each edge toward the higher (degree, id) endpoint; carry both
    # endpoint degrees so the wedge canonicalization needs no re-join
    ed = (
        e.join(F.broadcast(deg).withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(F.broadcast(deg).withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    fwd = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = materialize(ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ))
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .where(
            (F.col("x.ddst") < F.col("y.ddst"))
            | ((F.col("x.ddst") == F.col("y.ddst")) & (F.col("x.dst") < F.col("y.dst")))
        )
        .select(F.col("x.dst").alias("v"), F.col("y.dst").alias("w"))
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    # one lazy plan: three 1-row aggregates cross-joined (each side is a
    # single row, so the joins are trivially broadcast), no driver actions
    tri_row = (
        wedges.join(closing, ["v", "w"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    # n_edges = sum(d) / 2 — derived from the persisted degree frame, so
    # the edge list is never re-scanned for a bare count
    deg_row = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("CAST(SUM(d) DIV 2 AS BIGINT)").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    return (
        deg_row.crossJoin(tri_row)
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            F.expr(
                "CASE WHEN n_wedges > 0 THEN (3 * n_triangles * CAST(1000000 AS BIGINT))"
                " DIV n_wedges ELSE CAST(0 AS BIGINT) END"
            ).cast("long").alias("clustering_ppm"),
        )
    )
