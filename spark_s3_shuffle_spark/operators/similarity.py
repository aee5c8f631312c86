"""Similarity search over embedding columns (SURVEY §2.2 B49; north-star).

Three top-k tiers:

- ``cosine_topk``      — brute-force exact top-k: one scan, per-partition
                         k-heaps via TakeOrderedAndProject. The correctness
                         baseline; O(n·d) work, O(k) result movement.
- IVF                  — ``build_ivf_index`` assigns every vector to its
                         nearest of C centroids once per corpus version;
                         ``ivf_probe_vector`` (one probe) and
                         ``ivf_batch_topk_join`` (a probe table) then
                         brute-force only the ``nprobe`` cells nearest each
                         probe. The scan is cut by ~nprobe/C; this is the
                         100 TB path.
- ``lsh_topk``         — sign-LSH banded variant sharing the plane family
                         used by embedding near-dup: precomputed band keys
                         (``with_lsh_keys``), any-band-match candidate
                         filter, exact rescoring.

The int8 tier (``quantize_vectors``, ``quantized_topk``,
``quantized_batch_topk_join``) scans quantized vectors and rescores an
over-retrieved candidate set exactly, so its output is brute force's.

This module also owns the numpy kernels the embedding dedup operators
(dedup.py) share: the sign-LSH planes and band keys, nearest-cell
assignment, and the coarse-quantizer centroid fit.

``cosine_topk`` and ``quantized_topk`` carry the probe as a broadcast 1-row
frame — never collected to a Python literal; ``ivf_batch_topk_join`` joins
a whole probe table the same way.

One declared exception: :func:`quantized_batch_topk_join` EAGERLY collects
the probe table at call time (it is the broadcast side of the join by
contract — the same size class the SQL plan would ship to every task) so it
can broadcast one contiguous normalized numpy matrix to the blocked-BLAS
scorer. Callers that need a fully-lazy batch plan (plan audit, explain-only
tooling) should use ``ivf_batch_topk_join``, whose plan over a built index
is pure Catalyst.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.functions.vector import cosine
from spark_s3_shuffle_spark.sources.catalog import (
    scan_partition_count,
    widen_small_scan,
)


def _as_double(col: Column) -> Column:
    """float32 → float64 so Spark and oracle accumulate at the same width."""
    return F.transform(col, lambda x: x.cast("double"))


def _exact_topk(df: DataFrame, id_col: str, vec: Column, probe: Column, k: int) -> DataFrame:
    """The exact rescore of every single-probe top-k: (id, cos) with cos =
    round(cosine(vec, probe), 4) (FIXTURES §4 rule 2), ordered cos DESC
    then id, cut to ``k`` by one TakeOrderedAndProject."""
    return (
        df.select(id_col, F.round(cosine(vec, probe), 4).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def _rank_per_probe(pairs: DataFrame, id_col: str, k: int, probe_id_col: str) -> DataFrame:
    """The exact rescore of every batch join: candidate (_pid, id_col, _v,
    _probe) rows get round(cosine(_v, _probe), 4), and each probe keeps its
    top ``k`` by (cos DESC, id) via WindowGroupLimit. Returns
    (probe_id_col, id_col, cos, rank)."""
    w_k = Window.partitionBy("_pid").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        pairs.select(
            "_pid",
            F.col(id_col),
            F.round(cosine(F.col("_v"), F.col("_probe")), 4).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select(F.col("_pid").alias(probe_id_col), id_col, "cos", "rank")
    )


def cosine_topk(
    vectors: DataFrame,
    probe: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k of ``vectors`` against a 1-row probe.

    Returns (vec_id, cos) with cos rounded to 4 (FIXTURES §4 rule 2),
    ordered cos DESC then id. The crossJoin broadcasts the single probe row;
    Catalyst fuses the whole score computation into the scan stage and
    TakeOrderedAndProject keeps only k rows per partition.
    """
    p = F.broadcast(probe.select(_as_double(F.col(probe_vec_col)).alias("_probe")))
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    return _exact_topk(v.crossJoin(p), id_col, F.col("_v"), F.col("_probe"), k)


def _unit_rows(X) -> np.ndarray:
    """Rows scaled to unit L2 norm; the +1e-12 keeps a zero row finite."""
    X = np.asarray(X, dtype=np.float64)
    return X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)


def _nearest_cell_udf(matrix, cells, top: int | None = None):
    """pandas_udf assigning each vector to its max-cosine cell(s): one numpy
    matmul per Arrow batch against the (num_cells, dim) centroid matrix (a
    closure constant shipped once per executor; a per-pair higher-order-
    function cosine measured ~10× slower). ``top=None`` gives the nearest
    cell as ``int``, the first on a tie (IVF); ``top=p`` the ``p`` nearest
    as ``array<long>`` (SemDeDup's soft assignment)."""
    Mn = _unit_rows(matrix)
    cell_ids = np.asarray(list(cells), dtype=np.int64)

    def sims(v: pd.Series) -> np.ndarray:
        return _unit_rows(np.vstack(v.to_numpy())) @ Mn.T

    if top is None:

        @F.pandas_udf("int")
        def nearest(v: pd.Series) -> pd.Series:
            return pd.Series(cell_ids[sims(v).argmax(axis=1)])

        return nearest

    p = min(max(1, top), len(cell_ids))

    @F.pandas_udf("array<long>")
    def nearest_p(v: pd.Series) -> pd.Series:
        return pd.Series(list(cell_ids[np.argpartition(-sims(v), p - 1, axis=1)[:, :p]]))

    return nearest_p


def _cell_means(assigned: DataFrame) -> DataFrame:
    """(cell, centroid) = per-cell mean vector via posexplode → (cell, pos)
    avg → re-assemble. JVM-side, shuffle bounded by num_cells·dim rows."""
    return (
        assigned.select("cell", F.posexplode("_v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda s: s.getField("m")).alias("centroid"))
    )


def auto_ivf_cells(n_vectors: int, floor: int = 8) -> int:
    """Cell count for an IVF coarse quantizer sized to the corpus: ~sqrt(N)
    (the FAISS rule of thumb), floored for tiny corpora. A FIXED cell count
    does not survive scale-up: per-cell membership grows O(N), so per-probe
    scan cost grows O(N) instead of O(sqrt(N)) — the round-7 sf10 tail
    check caught exactly this (16 cells over 200k vectors => 25k-member
    cells). With cells ~ sqrt(N), membership and the centroid table both
    grow O(sqrt(N)); the driver-side quantizer stays tiny (1M cells x 64
    dims = 512 MB at 1e12 vectors — shard the quantizer before that)."""
    return max(floor, math.isqrt(max(0, int(n_vectors))))


def auto_dedup_cells(n_vectors: int, target_cell_size: int = 256, floor: int = 16) -> int:
    """Cell count for SemDeDup-style within-cell pairwise verification:
    FIXED average membership (N / target), so the within-cell candidate
    count stays O(N * target) — linear in corpus size — instead of the
    O(N^2 / cells) blow-up a fixed cell count produces. target=256 keeps
    ~(probes*256)^2/2 ~ 1.3e5 pairs per cell regardless of N."""
    return max(floor, int(n_vectors) // max(1, target_cell_size))


def kmeans_like_centroids(
    vectors: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid table for IVF — Forgy seeding + Lloyd rounds.

    Seeds are ``num_cells`` ACTUAL vectors (the hash-order-first rows — a
    deterministic pseudo-random sample). Random-PARTITION seeding (cell =
    hash(id) mod C, then average) collapses every centroid toward the
    global mean on clustered data — the cells then carve noise, probes
    can't prune, and IVF degenerates to a slower exact scan. Forgy keeps
    seeds spread across the data's real modes.

    Each Lloyd round collects the (num_cells × dim) centroid matrix to the
    driver — O(C·d) floats, an offline build step — and re-assigns via one
    numpy matmul per Arrow batch. Returns the last round's collected
    ``(cell, centroid)`` rows, so no caller re-runs that round's scan.
    """
    v = vectors.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    seeds = v.orderBy(F.xxhash64(F.col("_id"), F.lit(5))).limit(num_cells).collect()
    matrix = [r["_v"] for r in seeds]
    cells = list(range(len(matrix)))
    for _ in range(max(1, iterations)):
        assigned = v.withColumn("cell", _nearest_cell_udf(matrix, cells)(F.col("_v")))
        rows = _cell_means(assigned).collect()  # O(num_cells) — offline build step
        matrix = [r["centroid"] for r in rows]
        cells = [r["cell"] for r in rows]
    return list(zip(cells, matrix))


@dataclass
class IVFIndex:
    """A built IVF index: cell-partitioned vector assignments + centroids.

    Build once, probe many — the index-build scans (centroid fit + vector
    assignment) must NEVER run inside the query path. At 100 TB
    ``assignments`` is a table partitioned/clustered by ``cell`` (write it
    through ExchangeManager.stage_write(keys=["cell"]) or a partitioned
    Parquet sink) so a probe touching ``nprobe`` cells prunes to
    nprobe/num_cells of the data; locally it is hash-partitioned on cell
    and pinned in memory.

    ``cells``/``centroid_matrix`` hold the coarse quantizer driver-side
    (O(num_cells·dim) floats, collected once at build) so single-probe
    queries rank cells without launching a Spark job — the same split as
    FAISS: coarse quantizer in the server process, inverted lists sharded.
    """

    assignments: DataFrame  # (id_col, cell, _v: array<double>)
    centroids: DataFrame    # (cell, centroid: array<double>)
    id_col: str
    num_cells: int
    cells: list  # cell ids, row-aligned with centroid_matrix
    centroid_matrix: "object"  # numpy (num_cells, dim)

    def unpersist(self) -> None:
        self.assignments.unpersist()


def _assign_cells(vectors: DataFrame, id_col: str, vec_col: str, matrix, cells) -> DataFrame:
    """(id_col, cell, _v): every vector with its nearest centroid's cell."""
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    nearest = _nearest_cell_udf(matrix, cells)
    return v.withColumn("cell", nearest(F.col("_v"))).select(id_col, "cell", "_v")


def build_ivf_index(
    vectors: DataFrame,
    num_cells: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 1,
) -> IVFIndex:
    """Offline index build: fit centroids, assign every vector to its
    nearest cell, repartition by cell, and pin the result. This is the
    expensive part (two full scans + the Lloyd iterations) — it runs once
    per corpus version, amortized over every subsequent probe.

    ``num_cells=None`` sizes the quantizer to the corpus via
    ``auto_ivf_cells`` (~sqrt(N)) — the scale-safe default; a fixed count
    is only appropriate when the corpus size is known and bounded."""
    if num_cells is None:
        num_cells = auto_ivf_cells(vectors.count())
    crows = kmeans_like_centroids(vectors, num_cells, id_col, vec_col, iterations)
    cells = [c for c, _ in crows]
    matrix = np.array([m for _, m in crows], dtype=np.float64)
    # final assignment: same vectorized numpy-matmul path as the Lloyd
    # rounds — one scan, no join, no per-pair HOF cosine
    assignments = _assign_cells(vectors, id_col, vec_col, matrix, cells)
    # An index, not an intermediate: held in memory until IVFIndex.unpersist.
    assignments = assignments.repartition("cell").persist()
    assignments.count()
    centroids = vectors.sparkSession.createDataFrame(crows, "cell int, centroid array<double>")
    return IVFIndex(assignments, centroids, id_col, num_cells, cells, matrix)


def ivf_probe_vector(
    index: IVFIndex,
    vector,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Serving-shape probe: the query vector arrives as plain Python floats
    (parameter binding — how an ANN endpoint receives it), so the whole
    query is exactly ONE Spark job: cell ranking against the driver-side
    coarse quantizer, an IN-list pruned scan, codegen cosine, top-k heap.

    Measured on a 200k-vector dim-32 corpus, local[32], num_cells=32,
    nprobe=4: probe 0.37 s vs exact 1.32 s (3.6×) at 8/10 top-10 overlap —
    the fixture corpus (2k vectors) is job-overhead-bound and shows parity
    instead."""
    q = np.asarray(list(vector), dtype=np.float64)
    M = index.centroid_matrix
    sims = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q) + 1e-12)
    order = sorted(range(len(sims)), key=lambda i: (-sims[i], index.cells[i]))
    chosen = [index.cells[i] for i in order[:nprobe]]
    probe_lit = F.array(*[F.lit(float(x)) for x in q])
    pruned = index.assignments.filter(F.col("cell").isin(chosen))
    return _exact_topk(pruned, index.id_col, F.col("_v"), probe_lit, k)


def ivf_batch_topk_join(
    index: IVFIndex,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN join (the ``approxSimilarityJoin`` shape, SURVEY B48/B49):
    EVERY row of a probe TABLE gets its per-probe top-k through the IVF
    cells in ONE distributed plan — no driver-side action per probe.

    Three stages, all joins against broadcast-sized sides:

    1. cell ranking — probes × broadcast centroid table (num_cells rows),
       per-probe ``row_number() <= nprobe`` (plans WindowGroupLimit, so
       only nprobe rows per probe survive map-side);
    2. candidate generation — equi-join of the (probe, cell) expansion
       against ``assignments`` ON THE CELL KEY with the probe side
       broadcast: the corpus never reshuffles, each cell partition is
       streamed once no matter how many probes touch it;
    3. per-probe top-k — ``row_number() <= k`` over (cos DESC, id), again
       WindowGroupLimit; the shuffle moves at most k rows per (probe,
       partition).

    At 100 TB the probe table is typically ≤ millions of rows (requests,
    eval sets) against billions of vectors — exactly the small-side-
    broadcast asymmetry stages 1-2 exploit. Returns
    (probe_id, id_col, cos, rank) with rank 1..k per probe.

    Output contract: scored cosines round to 4 decimals BEFORE ranking,
    ties broken by ascending id — the same canonicalization as
    ``cosine_topk``, so an exact brute-force SQL twin can oracle-check the
    whole join when nprobe covers the true neighbors.
    """
    p = probes.select(
        F.col(probe_id_col).alias("_pid"),
        _as_double(F.col(probe_vec_col)).alias("_probe"),
    )
    w_cell = Window.partitionBy("_pid").orderBy(F.col("_cos_c").desc(), F.col("cell"))
    probe_cells = (
        p.crossJoin(F.broadcast(index.centroids))
        .withColumn("_cos_c", cosine(F.col("_probe"), F.col("centroid")))
        .withColumn("_r", F.row_number().over(w_cell))
        .filter(F.col("_r") <= nprobe)
        .select("_pid", "_probe", "cell")
    )
    pairs = index.assignments.join(F.broadcast(probe_cells), "cell")
    return _rank_per_probe(pairs, index.id_col, k, probe_id_col)


def _plane_signs(dim: int, plane: int, seed: int) -> list[float]:
    """Deterministic ±1 plane components — derived from sha256 of
    (plane, dim-index, seed) so every executor/ session agrees without any
    RNG state; embedded as literals so per-row work is just a dot product."""
    out = []
    for i in range(dim):
        digest = hashlib.sha256(f"{plane}:{i}:{seed}".encode()).digest()
        out.append(1.0 if digest[0] % 2 == 0 else -1.0)
    return out


def _sign_band_keys(dim: int, num_planes: int, bands: int, seed: int):
    """The banded sign-LSH key kernel: ``keys(X)`` maps an (n, dim) matrix
    to (n, bands) int64 keys, key b packing the sign bits of its
    num_planes/bands planes. Uneven bands raise: the remainder planes would
    be dropped, and bands > num_planes would give every vector key 0."""
    if num_planes % bands:
        raise ValueError("num_planes must be divisible by bands")
    ppb = num_planes // bands
    planes = np.array(
        [_plane_signs(dim, p, seed) for p in range(num_planes)], dtype=np.float64
    ).T  # (dim, num_planes)
    weights = 1 << np.arange(ppb, dtype=np.int64)

    def keys(X: np.ndarray) -> np.ndarray:
        bits = (X @ planes) >= 0  # (n, num_planes)
        return bits.reshape(len(bits), bands, ppb) @ weights

    return keys


def _band_keys_udf(dim: int, num_planes: int, bands: int, seed: int):
    """pandas_udf of :func:`_sign_band_keys`: one numpy matmul per Arrow
    batch for all plane dots (the Column form, num_planes zip_with +
    aggregate per row, measured ~10× slower at 32 planes)."""
    keys = _sign_band_keys(dim, num_planes, bands, seed)

    @F.pandas_udf("array<long>")
    def band_keys(v: pd.Series) -> pd.Series:
        return pd.Series(list(keys(np.vstack(v.to_numpy()).astype(np.float64))))

    return band_keys


def with_lsh_keys(
    vectors: DataFrame,
    dim: int,
    num_planes: int = 32,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    out: str = "lsh_keys",
) -> DataFrame:
    """Attach the banded sign-LSH key array (same plane family as
    embedding_near_dup_pairs): ``out[b]`` is the b-th band's packed sign
    bits. Precompute + persist/write this once per corpus version; probes
    then pay only the key *comparison*, not the key computation. Raises
    ``ValueError`` unless ``num_planes`` is a multiple of ``bands``."""
    band_keys = _band_keys_udf(dim, num_planes, bands, seed)
    return vectors.select(F.col(id_col), F.col(vec_col), band_keys(F.col(vec_col)).alias(out))


def lsh_topk(
    keyed: DataFrame,
    probe: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 32,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_vec_col: str = "embedding",
    seed: int = 42,
    keys_col: str = "lsh_keys",
) -> DataFrame:
    """Approximate top-k via banded sign-LSH: candidates are vectors sharing
    ≥1 band key with the probe; only candidates get the exact cosine. Same
    recall/selectivity trade as the near-dup banding (any-band-match), but
    tuned for retrieval: the band predicate is a plain Column comparison
    over the precomputed key array — one scan, zero shuffle, cosine math cut
    to the candidate fraction (~bands/2^(planes/bands) of the corpus for
    random data, everything similar to the probe for clustered data).

    ``keyed`` must carry ``keys_col`` from :func:`with_lsh_keys`, built with
    the same ``dim``, ``num_planes``, ``bands`` and ``seed``."""
    keys = _sign_band_keys(dim, num_planes, bands, seed)
    head = probe.select(_as_double(F.col(probe_vec_col)).alias("_probe")).take(1)
    if not head:
        raise ValueError("empty probe")
    q = np.asarray(head[0]["_probe"], dtype=np.float64)
    match_any = None
    for b, pk in enumerate(keys(q[None, :])[0]):
        cond = F.element_at(F.col(keys_col), b + 1) == F.lit(int(pk))
        match_any = cond if match_any is None else (match_any | cond)
    probe_lit = F.array(*[F.lit(float(x)) for x in q])
    return _exact_topk(keyed.filter(match_any), id_col, _as_double(F.col(vec_col)), probe_lit, k)


# ---------------------------------------------------------------------------
# Int8 scalar quantization tier (round 4): 4x smaller vectors + exact rescore
# ---------------------------------------------------------------------------

def _int8_codes(X: np.ndarray) -> np.ndarray:
    """Per-row symmetric int8 codes of a finite (n, d) matrix, as float64:
    ``rint(x / (max|x| / 127))``; a zero row stays zero."""
    amax = np.abs(X).max(axis=1, initial=0.0)
    scale = np.where(amax > 0, amax / 127.0, 1.0)
    return np.rint(X / scale[:, None])


def quantize_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "qvec",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: ``q_i = round(x_i /
    (max|x| / 127))`` stored as ``array<tinyint>`` — the standard 4x
    memory/scan-bytes reduction for an ANN serving corpus (at rest it packs
    to 1 byte/dim; an `array<float>` is 4). Cosine needs NO dequantization:
    it is scale-invariant, so the per-vector scale cancels and the
    quantized vector scores directly against a float probe (asymmetric
    distance computation). One Arrow-batched projection — an amortized
    re-encode pass over the corpus, like any index build. (Round 8: was
    pure Column expressions; Spark's per-element ``round`` routes through
    BigDecimal, measured 95 s for 200k x 64 dims on one core — the numpy
    ``rint`` form re-encodes the same batch in milliseconds. Half-even vs
    half-up ties move a code point by one lsb at exact .5 boundaries,
    inside the ±1-lsb error the rescore contract already absorbs.)"""

    @F.pandas_udf("array<tinyint>")
    def _q8(col: pd.Series) -> pd.Series:
        vals = col.tolist()
        out: list = [None] * len(vals)
        # NULL or non-finite vectors quantize to NULL (per-row propagation,
        # as the Column-expression form did) rather than poisoning the
        # whole Arrow batch; length groups keep ragged inputs rectangular.
        by_len: dict[int, list[int]] = {}
        for i, v in enumerate(vals):
            if v is not None and len(v) > 0:
                by_len.setdefault(len(v), []).append(i)
        for idxs in by_len.values():
            x = np.array([vals[i] for i in idxs], dtype=np.float64)
            ok = np.isfinite(x).all(axis=1)
            qm = _int8_codes(np.where(ok[:, None], x, 0.0)).astype(np.int8)
            for j, i in enumerate(idxs):
                if ok[j]:
                    out[i] = qm[j]
        return pd.Series(out)

    return df.select(F.col(id_col), _q8(_as_double(F.col(vec_col))).alias(out))


def quantized_topk(
    vectors: DataFrame,
    probe: DataFrame,
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_vec_col: str = "embedding",
) -> DataFrame:
    """Quantized-scan + exact-rescore top-k: score the int8 codes of the
    corpus against the float probe (asymmetric cosine), keep
    ``k * rescore_factor`` candidates via TakeOrderedAndProject, then
    rescore ONLY those with the exact float vectors and return the true
    top-k ordering. With 8-bit quantization the per-pair cosine error is
    ~1e-2 worst-case, so a 4x over-retrieve recovers the exact top-k in
    practice — the output contract (and the oracle) is therefore the SAME
    as brute-force ``cosine_topk``.

    The quantization projection (:func:`quantize_vectors`) fuses into the
    scan, so the float corpus is read in one pass; the 1/4-byte scan is
    what an int8 copy of the corpus at rest would give."""
    q = quantize_vectors(vectors, id_col, vec_col)
    p = F.broadcast(probe.select(_as_double(F.col(probe_vec_col)).alias("_probe")))
    cand = (
        q.crossJoin(p)
        .select(
            id_col,
            cosine(F.transform("qvec", lambda x: x.cast("double")), F.col("_probe")).alias("_qcos"),
        )
        .orderBy(F.col("_qcos").desc(), F.col(id_col))
        .limit(k * rescore_factor)
        .select(id_col)
    )
    exact = vectors.join(cand, id_col, "left_semi")
    return cosine_topk(exact, probe, k, id_col, vec_col, probe_vec_col)


def quantized_batch_topk_join(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN join with the EXACT output contract (q97's mechanism,
    table-shaped): every probe row gets its true per-probe top-k, but the
    full corpus is scored only as int8 codes, and exact float cosines are
    computed for just ``k * rescore_factor`` candidates per probe.

    Stages — all distributed, no per-probe driver action:

    1. quantized scoring — blocked-BLAS ``mapInPandas`` over the corpus,
       quantized inside each Arrow batch (the :func:`quantize_vectors`
       codes, so the corpus is read once with no Catalyst array
       expressions): each batch scores against the probe matrix (collected
       once — the probe table is the BROADCAST side of this join by
       contract, the same size class the SQL plan shipped to every task
       anyway) with one normalized matmul, and emits only each probe's
       batch-local top ``k*rescore_factor`` INCLUDING boundary ties (a
       ``>= kf-th value`` mask, so the batch prune is a guaranteed
       superset of the global winners under any tie order). A per-probe
       ``row_number() <= k*f`` over the pruned rows (candidates per
       probe ≈ partitions·k·f, never corpus-sized) picks the global
       candidate set. Round 8: this stage was previously a Catalyst
       higher-order-function cosine over every (corpus × probe) pair —
       400M array-expression rows at sf10 (2k probes × 200k vectors),
       measured >10 min on 32 cores; the matmul form computes the same
       51 GFLOP in seconds and shuffles only the pruned candidates.
    2. exact rescore — the candidate (probe, id) pairs are broadcast back
       against the float corpus (an equi-join on the id key: at most
       probes·k·f rows on the build side), rescored with exact cosine —
       bitwise the SAME expression as before, so candidate-score ulp
       differences vs the SQL form cannot reach the output (the 4x
       over-retrieve absorbs boundary jitter exactly as it absorbs the
       ~1e-2 quantization error);
    3. per-probe top-k — ``row_number() <= k``, WindowGroupLimit.

    With 8-bit quantization the per-pair cosine error is ~1e-2 worst-case,
    so a 4x over-retrieve recovers the exact top-k — the contract (and the
    oracle) is the same as per-probe brute force. Returns (probe_id, id_col, cos, rank), cos rounded to 4, ties
    by ascending id — ``cosine_topk``'s canonicalization per probe."""
    src = vectors.select(F.col(id_col), F.col(vec_col).alias("_x"))
    p = probes.select(
        F.col(probe_id_col).alias("_pid"),
        _as_double(F.col(probe_vec_col)).alias("_probe"),
    )
    kf = k * rescore_factor
    # Eager by contract (module docstring): the probe side is collected
    # HERE, at call time, into one contiguous matrix for the BLAS scorer.
    prows = [r for r in p.collect() if r["_probe"] is not None]
    if not prows:
        raise ValueError(
            "quantized_batch_topk_join: the probes frame is empty (or all "
            "probe vectors are NULL); there is nothing to score. Pass at "
            "least one probe row with a non-null vector."
        )
    dims = {len(r["_probe"]) for r in prows}
    if len(dims) != 1:
        raise ValueError(
            f"quantized_batch_topk_join: probe vectors have mixed lengths "
            f"{sorted(dims)}; all probes must share one dimensionality."
        )
    pid_vals = np.array([r["_pid"] for r in prows])
    P = np.array([r["_probe"] for r in prows], dtype=np.float64)
    pnorm = np.linalg.norm(P, axis=1)
    pnorm[pnorm == 0] = 1.0
    Pn = np.ascontiguousarray((P / pnorm[:, None]).T)  # (d, m)
    bc = src.sparkSession.sparkContext.broadcast((pid_vals, Pn))
    pid_type = p.schema["_pid"].dataType.simpleString()
    id_type = src.schema[id_col].dataType.simpleString()
    cand_schema = f"_pid {pid_type}, {id_col} {id_type}, _qcos double"

    def _score(batches):
        pids_b, Pn_b = bc.value
        m = Pn_b.shape[1]
        d = Pn_b.shape[0]
        for pdf in batches:
            if pdf.empty:
                continue
            vals = pdf["_x"].tolist()
            # NULL / wrong-length corpus vectors cannot score against a
            # d-dim probe; they contribute no candidate row (the NULL
            # propagation the Column-expression form had) instead of
            # crashing the numpy stack.
            keep = [i for i, v in enumerate(vals) if v is not None and len(v) == d]
            if not keep:
                continue
            ids = pdf[id_col].to_numpy()[keep]
            Q = np.array([vals[i] for i in keep], dtype=np.float64)
            finite = np.isfinite(Q).all(axis=1)
            if not finite.all():
                ids, Q = ids[finite], Q[finite]
                if Q.shape[0] == 0:
                    continue
            Q = _int8_codes(Q)
            qn = np.linalg.norm(Q, axis=1)
            qn[qn == 0] = 1.0
            Q /= qn[:, None]
            # block rows so the similarity matrix stays ~32 MB
            step = max(1, (4 << 20) // max(m, 1))
            for lo in range(0, Q.shape[0], step):
                S = Q[lo : lo + step] @ Pn_b  # (b, m)
                b = S.shape[0]
                if b <= kf:
                    rr, cc = np.nonzero(np.ones_like(S, dtype=bool))
                else:
                    part = np.argpartition(-S, kf - 1, axis=0)[:kf, :]
                    thr = np.take_along_axis(S, part, axis=0).min(axis=0)
                    rr, cc = np.nonzero(S >= thr[None, :])
                yield pd.DataFrame(
                    {
                        "_pid": pids_b[cc],
                        id_col: ids[lo:][rr],
                        "_qcos": S[rr, cc],
                    }
                )

    # A single large parquet file is often ONE row group, so every row
    # lands in one of the byte-range scan partitions (measured at sf10:
    # 200k rows in 1 of 13) and the scoring stage serializes. Scoring
    # does O(m·d) flops per row against an O(d)-BYTE shuffle row, so
    # spreading the corpus always pays when the scan fans out to
    # fewer tasks than cores; on a healthy many-row-group corpus the
    # branch is false and no shuffle is added. The probe is memoized per
    # analyzed plan (r12-opt) — the RDD conversion forced full physical
    # planning on every call.
    par = 2 * src.sparkSession.sparkContext.defaultParallelism
    nparts = scan_partition_count(src)
    if nparts is not None and nparts < par:
        src = src.repartition(par)
    w_q = Window.partitionBy("_pid").orderBy(F.col("_qcos").desc(), F.col(id_col))
    cand = (
        src.mapInPandas(_score, schema=cand_schema)
        .withColumn("_r", F.row_number().over(w_q))
        .filter(F.col("_r") <= kf)
        .select("_pid", id_col)
    )
    pairs = (
        vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
        .join(F.broadcast(cand), id_col)
        .join(F.broadcast(p), "_pid")
    )
    return _rank_per_probe(pairs, id_col, k, probe_id_col)


def extend_ivf_index(
    index: IVFIndex,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
) -> IVFIndex:
    """Incremental index maintenance: fold a DELTA of vectors into an
    existing IVF index by assigning only the new rows to the FIXED
    centroids — given the centroids, per-vector assignment is independent
    of every other row, so ``extend(build(A), B)`` produces exactly the
    assignments of a rebuild over A ∪ B with the same centroids
    (property-tested). Cost is one scan of the delta (the same vectorized
    numpy-matmul assignment as the build) + a cell-keyed union — the
    history is never re-scanned, which is what makes a 100 TB embedding
    corpus maintainable under daily appends. Centroids are deliberately
    NOT refit here; recluster offline when drift accumulates (the
    standard FAISS operating procedure)."""
    delta = _assign_cells(
        new_vectors, index.id_col, vec_col, index.centroid_matrix, index.cells
    )
    merged = index.assignments.unionByName(delta).repartition("cell").persist()
    merged.count()
    # The old assignment frame is folded into (and fully materialized by)
    # `merged`; drop its pinned copy so a daily-append maintenance loop
    # holds exactly ONE cached assignment frame, not one per extend.
    index.assignments.unpersist()
    return IVFIndex(
        merged,
        index.centroids,
        index.id_col,
        index.num_cells,
        index.cells,
        index.centroid_matrix,
    )


def _quantize_vec(vec_col: str, scale: int, offset: int) -> Column:
    """array<float> -> array<bigint>: q_i = floor(x_i * scale + 0.5) +
    offset. Every step is exact IEEE arithmetic (float->double widening,
    multiply by a power of two, add 0.5 — all dyadic), so Spark and any
    replaying engine produce identical integers; ``offset`` shifts the
    lattice non-negative so floor-division semantics can't diverge on
    negatives."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long") + offset,
    )


def _nearest_centroid_udf(centroids: list[list[int]]):
    """argmin_j of the exact integer L2^2 distance to each centroid, ties
    broken toward the smaller cluster index — one numpy int64 matmul per
    Arrow batch (the same blocked-BLAS shape the IVF path uses).

    r11-opt: this replaced a per-centroid zip_with+aggregate literal
    expression tree. That formulation re-generated (and re-compiled) a
    fresh whole-stage-codegen source every round because the centroid
    LITERALS were baked into the plan (~6 s of janino per round at
    k=8/dim=64), and higher-order-function lambdas evaluate interpreted
    (~2 s per assignment pass even cached). The Arrow form is
    plan-shape-stable across rounds, exact (int64 throughout: |x|^2 - 2xc
    + |c|^2 over the non-negative lattice, values bounded far below
    2^63), and keeps the narrow zero-shuffle assignment shape.

    argmin ties: np.argmin returns the FIRST minimal index — identical to
    the old array_min struct-ordering rule (smaller cluster index wins).
    """
    cent = np.array(centroids, dtype=np.int64)          # (k, dim)
    cnorm = (cent * cent).sum(axis=1)                    # (k,)

    @F.pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.int64)     # (batch, dim)
        d = cnorm[None, :] - 2 * (X @ cent.T)            # (batch, k), +|x|^2 const
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return nearest


def kmeans_quantized(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    scale: int = 512,
    offset: int = 512,
) -> DataFrame:
    """EXACT integer-lattice Lloyd k-means — the cluster-curation sibling
    of :func:`kmeans_like_centroids`, built so that every step is
    deterministic integer arithmetic a SQL engine can replay bit-for-bit
    (registry q328's DuckDB oracle re-runs the whole iteration in CTEs):

    - vectors quantize to a non-negative integer lattice
      (:func:`_quantize_vec` — exact dyadic float ops, then bigints);
    - seeds are the ``k`` lowest-id vectors (cluster j = rank j);
    - each of ``iterations`` rounds assigns by exact integer L2^2
      (ties -> smaller cluster index) and re-quantizes centroids as
      elementwise ``sum DIV count`` (floor division over non-negative
      ints — identical in Spark, Python, and DuckDB); a cluster that
      loses all members keeps its previous centroid;
    - the returned frame is the FINAL assignment profile: one row per
      surviving cluster with exact ``(cluster, n_members, sum_ids,
      min_id, centroid_checksum)`` where the checksum is
      sum_pos((pos+1) * centroid[pos]).

    Scale shape: assignment is one Arrow-batched numpy matmul per
    partition (the IVF blocked-BLAS shape — plan-stable across rounds,
    no per-round literal recompiles); each round's
    update shuffles only (k * dim) partial sums per upstream partition
    (posexplode then map-side-combined groupBy), and the driver holds
    k * dim integers per round — O(1) in the corpus. Input is re-scanned
    once per round (iterations is small and fixed; no lineage-breaking
    cache needed).
    """
    q = widen_small_scan(
        vectors.select(
            F.col(id_col).cast("long").alias("_id"),
            _quantize_vec(vec_col, scale, offset).alias("_v"),
        )
    )
    seed_rows = q.orderBy("_id").limit(k).collect()  # O(k) driver, documented
    centroids = [list(r["_v"]) for r in sorted(seed_rows, key=lambda r: r["_id"])]

    for _ in range(max(0, iterations)):
        assigned = q.withColumn("_c", _nearest_centroid_udf(centroids)("_v"))
        sums = (
            assigned.select("_c", F.posexplode("_v").alias("_pos", "_val"))
            .groupBy("_c", "_pos")
            .agg(F.sum("_val").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()  # O(k * dim) rows — the round's only driver traffic
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(r["_c"], {})[r["_pos"]] = (r["_s"], r["_n"])
        centroids = [
            [by_cluster[j][p][0] // by_cluster[j][p][1] for p in range(len(cent))]
            if j in by_cluster else cent  # empty cluster: keep previous
            for j, cent in enumerate(centroids)
        ]

    final = q.withColumn("_c", _nearest_centroid_udf(centroids)("_v"))
    checksums = {
        j: sum((p + 1) * v for p, v in enumerate(cent))
        for j, cent in enumerate(centroids)
    }
    checksum_map = F.create_map(
        *[F.lit(x) for j in checksums for x in (j, checksums[j])]
    )
    return (
        final.groupBy(F.col("_c").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("_id").cast("long").alias("sum_ids"),
            F.min("_id").cast("long").alias("min_id"),
        )
        .withColumn(
            "centroid_checksum",
            F.element_at(checksum_map, F.col("cluster")).cast("long"),
        )
        .orderBy("cluster")
    )


def label_centroid_profile(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 512,
    offset: int = 512,
) -> DataFrame:
    """Corpus cartography: one exact profile row per label —
    ``(label, n_vecs, sum_ids, centroid_checksum, intra_ss, nn_label)``.

    The workhorse report behind cluster-balanced sampling and embedding
    drift monitoring: per-label quantized centroid (elementwise
    ``sum DIV count`` on the :func:`_quantize_vec` lattice — exact
    integers, so the q330 DuckDB oracle replays every value), total
    within-label squared dispersion ``intra_ss`` (sum over members of
    integer L2^2 to the label centroid), and ``nn_label`` — the nearest
    OTHER label by centroid distance (ties -> smaller label), the
    between-label separation signal.

    Scale shape: one posexplode + map-side-combined (label, pos)
    aggregate (|labels| * dim rows per partition), centroid arrays
    rebuilt with sort_array(collect_list) over the bounded (label, pos)
    frame, one broadcast-sized join back onto the vectors for the
    dispersion pass, and a |labels|^2 centroid self-join for nn_label —
    nothing driver-side, nothing quadratic in the corpus.
    """
    q = df.select(
        F.col(label_col).cast("int").alias("_l"),
        F.col(id_col).cast("long").alias("_id"),
        _quantize_vec(vec_col, scale, offset).alias("_v"),
    )
    sums = (
        q.select("_l", F.posexplode("_v").alias("_pos", "_val"))
        .groupBy("_l", "_pos")
        .agg(F.sum("_val").alias("_s"), F.count(F.lit(1)).alias("_n"))
    )
    cent = (
        sums.select("_l", "_pos", F.expr("_s DIV _n").alias("_cv"))
        .groupBy("_l")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_cv"))),
                lambda s: s.getField("_cv"),
            ).alias("_cent")
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_cent"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    per_label = (
        q.join(F.broadcast(cent), "_l")
        .groupBy("_l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("_id").cast("long").alias("sum_ids"),
            F.sum(dist).cast("long").alias("intra_ss"),
        )
    )
    checksum = cent.select(
        "_l",
        F.aggregate(
            F.zip_with(
                F.col("_cent"),
                F.sequence(F.lit(1), F.size("_cent")),
                lambda v, p: v * p,
            ),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        ).alias("centroid_checksum"),
    )
    a, b = cent.alias("ca"), cent.alias("cb")
    cdist = F.aggregate(
        F.zip_with(F.col("ca._cent"), F.col("cb._cent"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    nn = (
        a.join(b, F.col("ca._l") != F.col("cb._l"))
        .select(
            F.col("ca._l").alias("_l"),
            F.struct(cdist.alias("d"), F.col("cb._l").alias("l")).alias("_cand"),
        )
        .groupBy("_l")
        .agg(F.min("_cand").getField("l").alias("nn_label"))
    )
    return (
        per_label.join(F.broadcast(checksum), "_l")
        .join(F.broadcast(nn), "_l", "left")
        .select(
            F.col("_l").alias("label"),
            "n_vecs", "sum_ids", "centroid_checksum", "intra_ss", "nn_label",
        )
        .orderBy("label")
    )
