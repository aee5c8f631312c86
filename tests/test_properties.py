"""Property-based tests (hypothesis): operator invariants on adversarial
inputs, not just planted fixtures. The reference has no property tests
(SURVEY §5.1); these pin the semantics the oracle queries can't reach —
NULL handling, tie policies, transitive closure, salting neutrality.

Each property runs a bounded number of examples against the shared local
session (deadline disabled: Spark job latency is not the property under
test).
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.operators import dedup as D
from spark_s3_shuffle_spark.operators import skew as SK
from spark_s3_shuffle_spark.operators.asof import asof_join, asof_join_pandas

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def kv_events(draw):
    """(key, ts, seq) right-side rows plus (key, ts) probes, with heavy
    key/ts collisions to stress tie policies."""
    keys = draw(st.lists(st.integers(0, 4), min_size=1, max_size=12))
    right = [
        (k, draw(st.integers(0, 20)), i)
        for i, k in enumerate(keys)
    ]
    probes = draw(
        st.lists(st.tuples(st.integers(0, 5), st.integers(0, 20)), min_size=1, max_size=8)
    )
    return right, probes


@PROP
@given(data=kv_events())
def test_asof_window_and_pandas_paths_agree(spark, data):
    right_rows, probe_rows = data
    right = spark.createDataFrame(
        [(k, t, f"v{s}", s) for k, t, s in right_rows], "k long, ts long, v string, seq long"
    )
    left = spark.createDataFrame(list(set(probe_rows)), "k long, ts long")
    a = asof_join(left, right, on="ts", by="k", value_cols=["v"], right_order=["seq"])
    b = asof_join_pandas(left, right, on="ts", by="k", value_cols=["v"], right_order=["seq"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@PROP
@given(
    texts=st.lists(
        st.one_of(st.none(), st.text(alphabet="ab \x1f", max_size=6)), min_size=1, max_size=10
    )
)
def test_exact_dedup_is_min_id_per_distinct_content(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(r["doc_id"] for r in D.exact_dedup(df, ["text"], "doc_id").collect())
    # model: min doc_id per distinct value, NULL its own group (SQL GROUP BY)
    first: dict = {}
    for i, t in rows:
        first.setdefault(t, i)
    assert got == sorted(first.values())


@PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["component"] for r in D.connected_components(df).collect()}
    # model: classic union-find with min-id representative
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    expected = {n: find(n) for n in parent}
    assert got == expected


@PROP
@given(
    rows=st.lists(st.tuples(st.integers(0, 3), st.integers(-100, 100)), min_size=1, max_size=30),
    salt=st.integers(2, 6),
)
def test_salted_agg_is_neutral(spark, rows, salt):
    df = spark.createDataFrame(rows, "k long, v long")
    plain = {(r["k"]): (r["s"], r["c"]) for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("c")).collect()}
    salted = SK.salted_agg(
        df, ["k"],
        partial_aggs=[F.sum("v").alias("ps"), F.count("v").alias("pc")],
        final_aggs=[F.sum("ps").alias("s"), F.sum("pc").alias("c")],
        salt=salt,
    )
    got = {(r["k"]): (r["s"], r["c"]) for r in salted.collect()}
    assert got == plain


@PROP
@given(
    big=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25),
    small=st.lists(st.integers(0, 5), min_size=1, max_size=6),
    salt=st.integers(2, 5),
)
def test_salted_join_is_neutral(spark, big, small, salt):
    bdf = spark.createDataFrame(big, "k long, p long")
    sdf = spark.createDataFrame([(k, k * 10) for k in set(small)], "k long, d long")
    plain = sorted(map(tuple, bdf.join(sdf, "k").collect()))
    got = sorted(map(tuple, SK.salted_join(bdf, sdf, "k", salt=salt).collect()))
    assert got == plain


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5), st.integers(0, 99)),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(1, 4),
    salt=st.integers(2, 5),
)
def test_salted_top_k_matches_unsalted(spark, rows, k, salt):
    """salted_top_k_per_group ≡ top_k_per_group on any input — few distinct
    keys + heavy value ties stress both the skew spreading and the
    rank tie policy (ties at rank k must survive in both)."""
    df = spark.createDataFrame(rows, "g long, v long, payload long")
    plain = SK.top_k_per_group(df, ["g"], [F.desc("v")], k)
    salted = SK.salted_top_k_per_group(df, ["g"], [F.desc("v")], k, salt=salt)
    key = lambda r: (r["g"], r["v"], r["payload"], r["rk"])  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))


@given(
    ids=st.lists(st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=60, unique=True),
    n_shards=st.integers(min_value=1, max_value=32),
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.floats(min_value=0.0, max_value=2.0, allow_nan=False),
        min_size=1, max_size=3,
    ),
    total=st.integers(min_value=1, max_value=200),
)
@PROP
def test_export_ops_replay_exactly_in_python(spark, ids, n_shards, weights, total):
    """shard_assign and mixture_sample are CONTENT-ADDRESSED: a pure-Python
    md5 replay must reproduce the exact assignment / kept set for arbitrary
    ids, shard counts, weights, and budgets (the determinism contract the
    DuckDB oracles rely on)."""
    import hashlib

    from pyspark.sql import Row

    from spark_s3_shuffle_spark.operators import pipeline as PL

    def u32(salt, key):
        return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16)

    rows = [Row(doc_id=i, source="abc"[abs(i) % 3]) for i in ids]
    df = spark.createDataFrame(rows)

    got = {r["doc_id"]: r["shard"] for r in PL.shard_assign(df, "doc_id", n_shards).collect()}
    expect = {i: u32("shard", i) % n_shards for i in ids}
    assert got == expect

    kept = sorted(r["doc_id"] for r in PL.mixture_sample(df, "source", weights, "doc_id", total=total).collect())
    src_n = {}
    for r in rows:
        src_n[r.source] = src_n.get(r.source, 0) + 1
    def thr(src):
        w = weights.get(src)
        if w is None:
            return 0
        import math
        rate = min((float(w) * total) / src_n[src], 1.0)
        return math.floor(rate * float(2**32))
    expect_kept = sorted(i for i, r in ((i, "abc"[abs(i) % 3]) for i in ids) if u32("mix", i) < thr(r))
    assert kept == expect_kept


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1000), st.integers(1, 50)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    k1=st.integers(1, 5),
    k2=st.integers(6, 20),
)
def test_bottomk_prefix_property(spark, rows, k1, k2):
    """Bottom-k sketches are PREFIXES of each other: the k1-sample is
    always contained in the k2-sample (k1 < k2), for both the uniform and
    the weighted variant — the property that makes samples shrinkable
    without recomputation."""
    from spark_s3_shuffle_spark.operators import pipeline as PL
    from spark_s3_shuffle_spark.operators import sketch as SKC

    df = spark.createDataFrame(rows, "k long, w long")
    s1 = {r["k"] for r in SKC.bottomk_sample(df, ["k"], ["k"], k=k1).collect()}
    s2 = {r["k"] for r in SKC.bottomk_sample(df, ["k"], ["k"], k=k2).collect()}
    assert s1 <= s2
    w1 = {r["k"] for r in PL.weighted_sample(df, ["k"], "w", k1).collect()}
    w2 = {r["k"] for r in PL.weighted_sample(df, ["k"], "w", k2).collect()}
    assert w1 <= w2


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.floats(-1e6, 1e6, allow_nan=False)),
        min_size=2,
        max_size=40,
    )
)
def test_bottomk_quantiles_monotone_in_q(spark, rows):
    """Quantile estimates are non-decreasing in q (rank selection under a
    total order cannot invert), and every estimate is an actual data
    value."""
    from spark_s3_shuffle_spark.operators.sketch import bottomk_quantiles

    df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)], "k long, v double"
    )
    qs = [0.1, 0.4, 0.6, 0.95]
    got = bottomk_quantiles(df, "v", ["k"], qs, k=16).collect()
    vals = [r["v"] for r in got]
    assert vals == sorted(vals)
    data = {v for _, v in ((r["k"], r["v"]) for r in df.collect())}
    assert all(v in data for v in vals)


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 5)),
        min_size=0,
        max_size=30,
    )
)
def test_snapshot_diff_involution(spark, rows):
    """diff(a, a) is all-unchanged; swapping the sides swaps added and
    removed and preserves changed/unchanged — the reconciliation algebra
    a migration validator relies on."""
    from spark_s3_shuffle_spark.operators.maintenance import snapshot_diff

    a = spark.createDataFrame(rows, "k long, v long").dropDuplicates(["k"])
    b = a.filter(F.col("k") % 2 == 0).withColumn(
        "v", F.col("v") + (F.col("k") % 3)
    )
    same = snapshot_diff(a, a, ["k"]).select("status").distinct().collect()
    assert {r["status"] for r in same} <= {"unchanged"}
    fwd = {r["k"]: r["status"] for r in snapshot_diff(a, b, ["k"]).collect()}
    rev = {r["k"]: r["status"] for r in snapshot_diff(b, a, ["k"]).collect()}
    flip = {"added": "removed", "removed": "added"}
    assert rev == {k: flip.get(s, s) for k, s in fwd.items()}


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(1, 9)),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    pivot=st.integers(1, 499),
    k=st.integers(1, 12),
)
def test_weighted_sample_distributes_over_splits(spark, rows, pivot, k):
    """Weighted bottom-k distributes over disjoint splits: taking the
    bottom-k of (bottom-k(A) ∪ bottom-k(B)) equals bottom-k(A ∪ B) — the
    property that lets per-partition / per-day samples fold into the
    corpus sample without a rescan."""
    from spark_s3_shuffle_spark.operators import pipeline as PL

    df = spark.createDataFrame(rows, "k long, w long")
    a, b = df.filter(F.col("k") < pivot), df.filter(F.col("k") >= pivot)
    whole = {r["k"] for r in PL.weighted_sample(df, ["k"], "w", k).collect()}
    pa = PL.weighted_sample(a, ["k"], "w", k)
    pb = PL.weighted_sample(b, ["k"], "w", k)
    merged = {
        r["k"]
        for r in PL.weighted_sample(
            pa.unionByName(pb).drop("_ws_priority"), ["k"], "w", k
        ).collect()
    }
    assert merged == whole
