"""Deduplication operators (SURVEY §2.2 B47/B48; north-star dedup tier).

Five strategies, all partition-parallel with no driver-side collection:

- exact:       hash-groupBy on a content digest — one shuffle keyed by
               digest; volume bounded by distinct-content count.
- minhash_lsh: shingle → minhash signature → band buckets → bucket-join.
               The candidate join is an equi-join on (band, band_hash), so
               only same-bucket pairs shuffle — never the O(n²) cross join.
- simhash:     64-bit simhash, near-dup = same value after masking; grouped
               equi-join, same scale shape as exact dedup.
- ngram_jaccard: exact Jaccard verification over candidate pairs produced
               by LSH (or any candidate generator).
- embedding:   cosine near-dup over sign-LSH buckets of an embedding col.

Implementation shape matters as much as the algorithm: signatures are
computed via ``explode(shingles) → hash-aggregate`` rather than per-row
array expressions, so each shingle is hashed once (Catalyst does not CSE a
shared subexpression across N aggregate lambdas — the per-row formulation
re-walks the shingle array per hash function and is 100× slower). The
exploded frame never shuffles by shingle — aggregation is keyed by doc id
with map-side partial min/sum, so shuffle volume is rows × signature
width, independent of document length.

At 100 TB the only dangerous shape is pair verification; every strategy
here bounds candidate pairs by bucketing before any pairwise work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_s3_shuffle_spark.operators import similarity as SIM
from spark_s3_shuffle_spark.operators.materialize import materialize
from spark_s3_shuffle_spark.operators.text import shingles
from spark_s3_shuffle_spark.sources.catalog import widen_small_scan


# ---------------------------------------------------------------------------
# Exact dedup (B47)
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id row per distinct content (deterministic keep-first).

    Digest-first grouping: group on sha2 of the content instead of the raw
    (possibly megabyte-sized) content columns, so shuffle rows are ~90 bytes
    regardless of document size.

    NULL safety: each column is hashed separately and NULL becomes a
    distinct sentinel *outside* the value domain of sha2 hex strings, so
    ('a', NULL) ≠ (NULL, 'a') ≠ ('a', '') — matching SQL GROUP BY semantics
    (concat_ws alone silently skips NULLs and would collide all three).
    """
    parts = [
        F.coalesce(F.sha2(F.col(c).cast("string"), 256), F.lit("<null>"))
        for c in content_cols
    ]
    digest = F.sha2(F.concat_ws("\x1f", *parts), 256)
    return (
        df.select(F.col(id_col), digest.alias("_digest"))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def drop_exact_dups(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Full-row variant: the deduplicated table itself (survivors join)."""
    keep = exact_dedup(df, content_cols, id_col)
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Shared: exploded shingle frame
# ---------------------------------------------------------------------------

def _shingle_rows(df: DataFrame, id_col: str, text_col: str, shingle_n: int, distinct: bool = True) -> DataFrame:
    """(id, shingle) rows — one explode, shingles built exactly once.

    The (id, text) projection is widened BEFORE the explode (r11): shingle
    construction + hashing is the CPU bulk of every signature pass, and a
    small corpus parquet is a single scan split — un-widened, the whole
    explode→hash→partial-agg map side ran on one core. Repartitioning the
    un-exploded rows shuffles only (id, text), never the shingle blowup.
    """
    src = widen_small_scan(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    )
    sh = shingles(F.col("_t"), shingle_n)
    if distinct:
        sh = F.array_distinct(sh)
    return src.select("_id", F.explode(sh).alias("_s"))


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (B48)
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 5,
) -> DataFrame:
    """Per-doc MinHash signature as columns ``h0..h{n-1}``.

    explode → xxhash64(shingle, seed=i) → groupBy(id).min(hᵢ): each shingle
    is hashed ``num_hashes`` times total (cheap 64-bit mixes of a short
    string), and the partial-min aggregation means the shuffle carries one
    signature row per document.
    """
    rows = _shingle_rows(df, id_col, text_col, shingle_n)
    return rows.groupBy("_id").agg(
        *[F.min(F.xxhash64("_s", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    max_bucket_size: int | None = 10_000,
    dense_bucket_limit: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    bands × (num_hashes/bands rows) → band hash → per-bucket pairing.
    Returns distinct (a, b) id pairs with a < b.

    Pair generation is HYBRID, keyed on bucket size — the round-7 sf10
    tail bench is why. A dup-saturated corpus (500k docs of which ~4.8k
    survive dedup) grows its co-bucket membership with N, so all-pairs
    within buckets is quadratic: measured 173M candidate pairs at sf10 —
    220M shuffled records, 97 GB spilled, 21.9× wall time for 10× data —
    with 171M of those pairs coming from the 36k buckets over 64 members.

    - Buckets ≤ ``dense_bucket_limit``: all-pairs self-equi-join on
      (band, band_hash) — exact, and the measured distribution keeps every
      bucket in this regime below sf10 scale (max bucket: 4 at sf0.1,
      40 at sf1), so small-scale results are bit-identical to the
      all-pairs form.
    - Buckets > ``dense_bucket_limit``: STAR edges to the bucket's min id
      PLUS CHAIN edges between signature-sorted neighbors (≤ 2(B−1) pairs
      instead of B²/2). The star alone has the same connected components
      as the clique only BEFORE verification — minhash_dedup/_cc run exact
      Jaccard on each candidate edge, and in a bucket that mixes two
      distinct dup clusters (one band-hash collision, shared boilerplate
      band) members of the cluster NOT containing the bucket-min would
      only get (min, x) edges that fail verification, silently losing
      their member↔member pairs. The chain is the second chance: members
      are ordered by their first minhash value (``h0`` — docs of the same
      dup cluster agree on each signature slot with probability ≈ their
      Jaccard, so cluster members sort adjacent with high probability, and
      exact dups sort identically) and each member is paired with its
      predecessor, so a foreign cluster inside the bucket forms its own
      verifiable run of edges. Connectivity through a bucket is therefore
      preserved whenever adjacent-in-signature-order members verify; a
      pair can still be missed if every chain/star edge on its path fails
      verify AND none of its other ``bands`` buckets links it — the same
      probabilistic contract as LSH itself, measured ≥0.98 candidate
      recall (tests/test_recall.py).

    EXACT duplicates are NOT left to that probabilistic contract: a third,
    unconditional edge source — DIGEST STAR edges — pairs every member of
    each text-digest group with the group's min id (one window exchange
    over 16-byte (id, xxhash64(text)) rows, O(n), output bounded by the
    duplicate count). Identical texts therefore always share a candidate
    edge that exact verification confirms, by construction, at any scale
    and any bucket density. Round-11 fix: before this, an exact-dup pair
    landing in a >``dense_bucket_limit`` bucket relied on star/chain edges
    alone, and an ``h0``-equal non-dup interloper sorting between the
    twins broke adjacency in every band at sf10 (q42b: 60/1000 duplicates
    survived — CORRECTNESS_SF10_r10). A 64-bit digest collision can only
    ADD a false candidate pair, which exact verification then rejects.

    ``max_bucket_size`` still drops pathological buckets outright (a
    cluster that saturates a full band at that size is exact-dup-shaped —
    the digest edges absorb its exact-dup members deterministically).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).alias("bhash"),
        )
        for b in range(bands)
    ])
    # ``_sk`` (the first minhash slot) rides along as the chain-edge sort
    # key for oversize buckets: +8 bytes/row, and same-cluster docs sort
    # adjacent under it with probability ≈ their Jaccard per slot.
    banded = sig.select(
        "_id", F.col("h0").alias("_sk"), F.explode(band_structs).alias("bb")
    ).select("_id", "_sk", "bb.band", "bb.bhash")
    # ONE window pass over the bucket key annotates each row with its
    # bucket's size and min id — no size/min joins, one exchange.
    bucket = Window.partitionBy("band", "bhash")
    banded = banded.select(
        "_id", "_sk", "band", "bhash",
        F.count(F.lit(1)).over(bucket).alias("_bsz"),
        F.min("_id").over(bucket).alias("_m"),
    )
    if max_bucket_size:
        banded = banded.filter(F.col("_bsz") <= max_bucket_size)
    # Four consumers descend from the annotated frame (both dense-join
    # legs, star, chain), and each textually re-prints the whole
    # scan -> shingle explode -> 32-hash -> partial-min -> band-explode ->
    # window subtree — the CPU bulk of the query, recomputed per leg when
    # the runtime does not reuse the window exchange (the repo's measured
    # AQE-reuse caveat, r11). Materialize the NARROW annotated rows once
    # (bands rows/doc of five fixed-width columns — §8's
    # decide-with-small-rows shape: signatures and bucket metadata, never
    # text or shingles) and every edge source reads them.
    banded = materialize(banded)
    small = banded.filter(F.col("_bsz") <= dense_bucket_limit)
    left = small.alias("l")
    right = small.alias("r")
    dense = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
    )
    oversize = banded.filter(F.col("_bsz") > dense_bucket_limit)
    star = (
        oversize.filter(F.col("_id") != F.col("_m"))
        .select(F.col("_m").alias("a"), F.col("_id").alias("b"))
    )
    # Chain edges in signature order (docstring above): the sort window
    # runs only over the oversize subset, so its exchange+sort touches
    # O(oversize rows), never the whole banded frame.
    w_chain = Window.partitionBy("band", "bhash").orderBy("_sk", "_id")
    chain = (
        oversize.select("_id", "band", "bhash", "_sk", F.lag("_id").over(w_chain).alias("_prev"))
        .filter(F.col("_prev").isNotNull())
        .select(
            F.least("_prev", "_id").alias("a"),
            F.greatest("_prev", "_id").alias("b"),
        )
    )
    # Digest star edges (docstring above): deterministic candidates for
    # exact-text duplicates, independent of bucket density. xxhash64 is
    # enough here — a collision adds a candidate that verify rejects.
    dig = df.select(
        F.col(id_col).alias("_id"),
        F.xxhash64(F.col(text_col).cast("string")).alias("_dg"),
    )
    w_dig = Window.partitionBy("_dg")
    digest_star = (
        dig.select("_id", F.min("_id").over(w_dig).alias("_dm"))
        .filter(F.col("_id") != F.col("_dm"))
        .select(F.col("_dm").alias("a"), F.col("_id").alias("b"))
    )
    return (
        dense.unionByName(star).unionByName(chain).unionByName(digest_star).distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate (a, b) pairs.

    Joins the shingle sets back onto the (already-bounded) candidate list,
    so pairwise cost is O(|candidates|), not O(n²).

    The threshold filter compares UNROUNDED integer counts
    (``inter >= threshold * uni``), so a pair at true Jaccard 0.49996 is
    NOT admitted by a 0.5 threshold the way a rounded-then-compared
    ``round(j, 4) >= t`` filter would admit it; at ``threshold == 1.0``
    the comparison degenerates to ``inter == uni`` — set equality,
    float-free. The reported ``jaccard`` column stays rounded to 4
    decimals for stable display/hashing. (Round-11, ADVICE r10 item 2.)
    """
    candidates, base = _verify_side_frame(df, candidates, id_col, text_col)
    sh = base.select(
        "_id",
        F.array_distinct(shingles(F.col("_vt"), shingle_n)).alias("_sh"),
    )
    sh = materialize(sh)
    scored = (
        candidates.join(sh.withColumnRenamed("_id", "a").withColumnRenamed("_sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("_id", "b").withColumnRenamed("_sh", "sh_b"), "b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
    )
    if threshold >= 1.0:
        kept = scored.filter(
            (F.col("uni") > 0) & (F.col("inter") == F.col("uni"))
        )
    else:
        # uni > 0 keeps Jaccard defined: two below-shingle-length texts
        # have empty sets and were never admitted by the old rounded
        # filter either (null fails any comparison).
        kept = scored.filter(
            (F.col("uni") > 0)
            & (F.col("inter").cast("double") >= F.lit(threshold) * F.col("uni"))
        )
    return kept.withColumn(
        "jaccard", F.round(F.col("inter") / F.col("uni"), 4)
    ).select("a", "b", "jaccard")


def _verify_side_frame(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared verify-stage restriction (r12-opt, §2.3/§8): the two pair-join
    legs used to each re-scan the WHOLE corpus and re-compute the per-doc
    verify attribute (shingle set / digest) — two full corpus passes for a
    candidate list the LSH stage already bounded. Returns ``(candidates,
    base)`` where ``base`` is ``(_id, _vt)`` semi-join-restricted to ids
    that appear in the candidate pair list, so the expensive attribute
    projection above it runs ONCE, over candidate docs only; the caller
    materializes the projected attribute frame and feeds BOTH join legs
    from it. ``candidates`` comes back materialized too (it is consumed
    three times: the id list + two legs).
    Inner joins on a/b ignore non-candidate ids by definition, so the
    restriction is exact.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_vt"))
    candidates = materialize(candidates)
    ids = (
        candidates.select(F.col("a").alias("_id"))
        .union(candidates.select(F.col("b").alias("_id")))
        .distinct()
    )
    return candidates, base.join(ids, "_id", "semi")


def exact_duplicate_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Verify candidate (a, b) pairs by BYTE-IDENTICAL text (sha2-256
    digest equality) — the threshold-1.0 tier's verifier.

    Exact duplication is a deterministic property, not a probabilistic
    one, so the exact tier must not inherit shingle-set edge cases:
    distinct texts can share an identical shingle multiset (repetitive
    boilerplate) and sub-shingle-length texts have empty sets — both are
    Jaccard-1.0-shaped without being duplicates. Digest equality is also
    cheaper to verify than a shingle join: the pair join carries one
    64-hex digest per side instead of a shingle array. sha2-256 (not
    xxhash64) because the VERIFIER must not confirm false positives.
    NULL texts hash to NULL and NULL == NULL is false — matching the SQL
    oracle's ``a.text = b.text`` semantics.
    """
    # Deliberately NOT routed through _verify_side_frame: the digest
    # projection is one sha2 over (id, text) — measured at sf0.1 AND sf1
    # (q42b paired A/B), the semi-join restriction's extra job barriers
    # (17 -> 25 jobs/draw) cost more than the second cheap digest pass
    # saves (0.99x / ~0.93x-median), unlike the shingle tier where the
    # saved attribute compute is the dominant term (q44 1.22x at sf1).
    dig = df.select(
        F.col(id_col).alias("_id"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("_dg"),
    )
    return (
        candidates.join(dig.withColumnRenamed("_id", "a").withColumnRenamed("_dg", "dg_a"), "a")
        .join(dig.withColumnRenamed("_id", "b").withColumnRenamed("_dg", "dg_b"), "b")
        .filter(F.col("dg_a") == F.col("dg_b"))
        .select("a", "b", F.lit(1.0).alias("jaccard"))
    )


def _confirmed_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    **lsh_kwargs,
) -> DataFrame:
    """Shared candidate+verify stage for minhash_dedup / minhash_dedup_cc.

    ``jaccard_threshold >= 1.0`` selects the EXACT tier (round-11, VERDICT
    r10 item 1): digest star candidates (always unioned in by
    ``minhash_lsh_candidates``) + digest-equality verification make the
    survivor set deterministic by construction — keep-min per identical
    text, at any scale, any bucket density. Sub-1.0 thresholds keep the
    probabilistic LSH contract (measured recall floors,
    tests/test_recall.py)."""
    cand = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands, **lsh_kwargs)
    if jaccard_threshold >= 1.0:
        return exact_duplicate_pairs(df, cand, id_col, text_col)
    return ngram_jaccard_pairs(df, cand, id_col, text_col, 3, jaccard_threshold)


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dup removal: LSH candidates → exact verify →
    drop the larger id of each confirmed pair (transitive-lite policy:
    anything confirmed-similar to a smaller id is dropped; full
    connected-components clustering is ``minhash_dedup_cc``).

    ``jaccard_threshold >= 1.0`` is the deterministic exact-duplicate
    tier (see ``_confirmed_pairs``); ``lsh_kwargs`` pass through to
    ``minhash_lsh_candidates`` (e.g. ``dense_bucket_limit`` — used by the
    oversize-bucket regression test to force the sf10 regime at sf0.001).
    """
    confirmed = _confirmed_pairs(
        df, id_col, text_col, num_hashes, bands, jaccard_threshold, **lsh_kwargs
    )
    losers = confirmed.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_dedup_cc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    **lsh_kwargs,
) -> DataFrame:
    """minhash_dedup with full connected-components clustering: transitive
    chains (A~B, B~C, A≁C) collapse to one representative per cluster
    instead of the transitive-lite per-pair policy."""
    confirmed = _confirmed_pairs(
        df, id_col, text_col, num_hashes, bands, jaccard_threshold, **lsh_kwargs
    )
    return dedup_by_components(df, confirmed, id_col)


# ---------------------------------------------------------------------------
# Connected-components clustering over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) labeling of the undirected graph given as (a, b)
    edge pairs; component = min node id reachable. Returns one row per node
    that appears in any edge.

    Iterative min-label propagation, all DataFrame ops: each round every
    node adopts the smallest label among itself and its neighbors; converges
    in O(diameter) rounds (near-dup clusters are shallow — a dup cluster's
    diameter is usually 1-2, so 3-4 rounds in practice; ``max_iterations``
    bounds adversarial chains). Each round is one explode-free
    groupBy(node).min(label) over the edge list joined to current labels —
    shuffle volume O(|edges|) per round, no driver-side graph.

    The convergence check is exact and id-type-agnostic: each round counts
    rows whose label changed (min-label propagation only ever lowers a
    label, so changed == 0 is the fixpoint). One driver-side scalar per
    round over the already-checkpointed labels — never a numeric-sum
    fingerprint, which silently fails for string node ids (sum over strings
    is NULL/illegal), and never a collect of rows.

    r12-opt: the per-round checkpoint is LAZY (``eager=False``) and the
    convergence count is a full (un-limited) count, so ONE job per round
    both materializes the checkpoint (the count covers every partition)
    and returns the scalar — the old eager-checkpoint-then-limit(1).count()
    shape paid two scheduled jobs per round for the same work. The count
    must stay full-coverage: a limit would let Spark stop after a partial
    partition scan, leaving unmaterialized partitions whose lineage spans
    every prior round.
    """
    sym = edges.select(
        F.col(a_col).alias("_u"), F.col(b_col).alias("_v")
    ).union(edges.select(F.col(b_col).alias("_u"), F.col(a_col).alias("_v")))
    # materialize the edge list ONCE: every propagation round joins against
    # it, and without this the (possibly expensive — LSH + verify) upstream
    # pair pipeline would re-execute per round per join side.
    sym = materialize(sym, eager=True)
    labels = sym.select("_u").union(sym.select("_v")).distinct().select(
        F.col("_u").alias("_node"), F.col("_u").alias("_comp")
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["_v"] == labels["_node"])
            .groupBy("_u")
            .agg(F.min("_comp").alias("_ncomp"))
        )
        stepped = (
            labels.join(neighbor_min, labels["_node"] == neighbor_min["_u"], "left")
            .select(
                "_node",
                F.col("_comp").alias("_old"),
                F.least(F.col("_comp"), F.coalesce(F.col("_ncomp"), F.col("_comp"))).alias("_comp"),
            )
        )
        stepped = materialize(stepped)  # truncate the iterative lineage
        labels = stepped.select("_node", "_comp")
        # full count (no limit): materializes EVERY partition of the lazy
        # checkpoint in the same job that yields the convergence scalar
        changed = stepped.filter(F.col("_comp") != F.col("_old")).count()
        if changed == 0:
            break
    return labels.select(F.col("_node").alias("node"), F.col("_comp").alias("component"))


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Drop every non-representative member of each near-dup cluster: the
    transitive closure of the pair graph, keeping min-id per component.
    Fixes the transitive-lite gap (A~B and B~C but not A~C still collapses
    to {A}); cost is the CC rounds over the (bounded) candidate pair list,
    not the corpus."""
    comp = connected_components(pairs, a_col, b_col)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash (B48 variant)
# ---------------------------------------------------------------------------

def simhash_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    out: str = "_simhash",
    max_shingles: int = 30_000,
) -> DataFrame:
    """(id, simhash) frame: 64-bit simhash — per bit b, set iff the majority
    of shingle hashes have bit b set.

    Packed-counter aggregation: instead of 64 conditional-sum aggregate
    buffers (the naive shape — 64 wide agg buffers per group and 64 branchy
    exprs per shingle row), each shingle row packs 4 bit-indicators into the
    16-bit fields of one long, 16 longs total; a single SUM per packed long
    then accumulates 4 counters at once. 17 aggregate buffers, branch-free
    row exprs, identical result (vote>0  ⇔  2·count_set > n).

    ``max_shingles`` bounds each document's shingle stream so the 16-bit
    packed counters cannot overflow or carry across fields (sum per field ≤
    max_shingles < 2^15, and 30 000·(2^48+2^32+2^16+1) < 2^63). Longer
    documents are simhashed over their first 30k shingles — standard
    practice, and far beyond where a near-dup signal saturates.
    """
    # widen before the explode (same rationale as _shingle_rows: the
    # shingle+hash map side of a one-split scan must not run on one core)
    src = widen_small_scan(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    )
    sh = shingles(F.col("_t"), shingle_n)
    rows = src.select(
        "_id", F.explode(F.slice(sh, 1, max_shingles)).alias("_s")
    ).select("_id", F.xxhash64("_s").alias("_hh"))
    # the hash is materialized as a projected column FIRST: the 16 packed
    # aggregates below reference it 64 times, and Catalyst does not CSE a
    # subexpression shared across aggregate expressions — inlining
    # xxhash64(_s) there would hash every shingle 64×.
    h = F.col("_hh")
    packed_aggs = []
    for g in range(16):
        expr = F.lit(0).cast("long")
        for j in range(4):
            bit = F.shiftright(h, 4 * g + j).bitwiseAND(F.lit(1))
            expr = expr + F.shiftleft(bit, 16 * j)
        packed_aggs.append(F.sum(expr).alias(f"p{g}"))
    votes = rows.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"), *packed_aggs)
    sim = F.lit(0).cast("long")
    for g in range(16):
        for j in range(4):
            cnt = F.shiftright(F.col(f"p{g}"), 16 * j).bitwiseAND(F.lit(0xFFFF))
            bit = F.when(cnt * 2 > F.col("_n"), F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            sim = sim.bitwiseOR(F.shiftleft(bit, 4 * g + j))
    return votes.select(F.col("_id").alias(id_col), sim.alias(out))


def simhash_near_dup_pairs(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "_simhash",
    hamming_k: int = 3,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """(a, b, hamming) pairs with Hamming(simhash_a, simhash_b) ≤ k.

    Pigeonhole banding: split the 64 bits into k+1 blocks — any pair within
    Hamming distance k agrees exactly on at least one block, so candidates
    are an equi-self-join on (block_id, block_value) and verification is one
    bit_count(xor). Never an all-pairs comparison.

    ``max_bucket_size`` drops degenerate blocks (e.g. a block that is all
    zeros for half the corpus) whose within-bucket join would be quadratic —
    the skew cap that makes this safe at 100 TB. Capped pairs can still be
    found via their other k blocks.

    The cap is ONE window count over the bucket key, not a groupBy +
    semi-join (r11-opt, §2.4): the semi-join form re-evaluated the whole
    upstream pipeline (simhash aggregation included) once more for its
    build side on each leg of the self-join — 4 full computes of the
    shingle explode per query, none of which AQE's exchange reuse
    recognized. The window annotates sizes inside the same exchange the
    self-join needs anyway, identical row-count semantics.
    """
    blocks = hamming_k + 1
    width = 64 // blocks
    specs = []
    for i in range(blocks):
        lo = i * width
        w = 64 - lo if i == blocks - 1 else width
        bval = F.shiftright(F.col("_h"), lo) if lo else F.col("_h")
        if w < 64:
            bval = bval.bitwiseAND(F.lit((1 << w) - 1))
        specs.append(F.struct(F.lit(i).alias("blk"), bval.alias("bval")))
    banded = (
        sim_df.select(F.col(id_col).alias("_id"), F.col(sim_col).alias("_h"))
        .select("_id", "_h", F.explode(F.array(*specs)).alias("bb"))
        .select("_id", "_h", "bb.blk", "bb.bval")
    )
    if max_bucket_size:
        bucket = Window.partitionBy("blk", "bval")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(bucket))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    # Both self-join legs descend from the banded frame; without a
    # materialization each leg re-runs the whole upstream simhash
    # aggregation (shingle explode + packed-counter agg). Same narrow-row
    # materialization as minhash_lsh_candidates: (id, hash, blk, bval) —
    # 4 fixed-width columns, blocks rows/doc.
    banded = materialize(banded)
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.bit_count(F.col("l._h").bitwiseXOR(F.col("r._h"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_k)
        .distinct()
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hamming_k: int = 3,
) -> DataFrame:
    """Near-dup removal at Hamming distance ≤ k over 64-bit simhashes
    (k=0 degenerates to exact-bucket dedup). Drop the larger id of each
    confirmed pair — same transitive-lite policy as minhash_dedup.

    Recall tier — MEASURED, pick deliberately (tests/test_recall.py):
    the k=3 default is the near-IDENTICAL tier. On the fixture corpus it
    measures 0.657 recall for one-token edits on ≥60-word docs (short
    docs flip near-threshold majority bits easily) and only 0.105 on
    10%-truncation twins; ``hamming_k=10`` recovers 0.925 on the
    truncation tier at proportionally more candidate pairs (11 pigeonhole
    blocks). For ≥0.7-Jaccard near-dup detection use ``minhash_dedup``
    (measured candidate recall ≥0.98 with exact-Jaccard precision 1.0) —
    simhash's niche is cheap single-signature dedup of near-identical
    boilerplate, not semantic-distance thresholds."""
    sim = simhash_frame(df, id_col, text_col)
    pairs = simhash_near_dup_pairs(sim, id_col, "_simhash", hamming_k)
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (B48 embedding variant)
# ---------------------------------------------------------------------------

def _cos_pairs(L: np.ndarray, R: np.ndarray, threshold: float):
    """Blocked exact-cosine scoring of every row of ``L`` against every row
    of ``R``: returns ``(rows, cols, cos)`` arrays for the pairs whose
    4-decimal cosine is ≥ ``threshold`` (``rows`` index ``L``, ``cols``
    index ``R``). A zero-norm vector scores NaN and never passes. L is cut
    into row blocks so each similarity block stays ≤ 64 MB of float64."""
    lnorm = np.linalg.norm(L, axis=1)
    rnorm = np.linalg.norm(R, axis=1)
    bs = max(1, min(len(L), 8_388_608 // max(1, len(R))))
    found = []
    for i0 in range(0, len(L), bs):
        i1 = min(len(L), i0 + bs)
        sims = L[i0:i1] @ R.T
        den = lnorm[i0:i1, None] * rnorm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(den == 0, np.nan, sims / den)
        rows, cols = np.nonzero(np.round(cos, 4) >= threshold)
        found.append((rows + i0, cols, cos[rows, cols]))
    return tuple(np.concatenate(parts) for parts in zip(*found))


def _verify_pairs_within_groups(
    withvec: DataFrame,
    group_cols: list[str],
    threshold: float,
    max_group_rows: int = 16_384,
) -> DataFrame:
    """Exact-cosine pair verification executed WHERE the vectors already
    are: ``withvec`` is (group_cols..., _id, _v) with each group's members
    co-located by the group key, and each group verifies ALL its pairs in
    one blocked BLAS matmul inside applyInPandas. Candidate (a, b) rows
    never shuffle — the round-7 sf10 tail bench measured the
    materialize-pairs-then-join-vectors shape at 410M shuffled records /
    190 GB spilled for work whose actual FLOPs are linear-in-N dgemm.

    Hot-group bound (round 8): a pandas group materializes ENTIRELY in one
    task, and k-means cells / LSH buckets are not balanced — a boilerplate
    cluster could put millions of vectors in one cell at 100 TB and OOM
    the executor. Groups larger than ``max_group_rows`` are therefore
    salted into ``s = ceil(size / max_group_rows)`` hash blocks and every
    unordered block pair (i ≤ j) becomes its own pandas group: (i, i)
    verifies the block's internal pairs, (i, j) the cross-block pairs, so
    the union covers exactly the group's pair set with per-task peak
    memory ≤ 2·max_group_rows vectors (~16 MB at dim 64). Each member is
    replicated to its s block pairs — O(size²/max_group_rows) shuffled
    rows, far below the O(size²) pair-row shape — and because each
    (group, i, j) block pair is its own applyInPandas group key, the
    groupBy's own hash exchange spreads a hot cell's s² block pairs
    across the cluster (no explicit repartition is added; the aggregation
    exchange that must exist anyway is the spreading mechanism). Groups
    at or under the limit have s=1 and take the exact single-group path,
    so results (and oracle hashes) at small scale are bit-identical.

    A pair that co-occurs in several groups (soft assignment, multiple
    bands) emits once per group, possibly ulp-apart under different dgemm
    block shapes; the survivors-only groupBy(a, b) collapses duplicates
    and rounds once. Requires integral ids (emitted as ``long``).

    Returns (a, b, cos) with a < b and round(cos, 4) ≥ threshold.
    """
    thr = float(threshold)

    empty = pd.DataFrame(
        {"a": pd.Series(dtype="int64"), "b": pd.Series(dtype="int64"),
         "_c": pd.Series(dtype="float64")}
    )

    def _vectors(pdf: pd.DataFrame) -> np.ndarray:
        return np.vstack(pdf["_v"].to_numpy()).astype(np.float64)

    def _within(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        if len(ids) < 2:
            return empty
        X = _vectors(pdf)
        rows, cols, cos = _cos_pairs(X, X, thr)
        keep = cols > rows  # strict upper triangle: a < b
        return pd.DataFrame({"a": ids[rows[keep]], "b": ids[cols[keep]], "_c": cos[keep]})

    def _cross(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lids = lpdf["_id"].to_numpy()
        rids = rpdf["_id"].to_numpy()
        if not len(lids) or not len(rids):
            return empty
        rows, cols, cos = _cos_pairs(_vectors(lpdf), _vectors(rpdf), thr)
        la, rb = lids[rows], rids[cols]
        return pd.DataFrame({"a": np.minimum(la, rb), "b": np.maximum(la, rb), "_c": cos})

    def _group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(pdf["_gi"].iloc[0]), int(pdf["_gj"].iloc[0])
        if gi == gj:
            return _within(pdf)
        return _cross(pdf[pdf["_blk"] == gi], pdf[pdf["_blk"] == gj])

    # Per-group size → salt block id → explode into unordered block pairs.
    # Sizes come from a map-side-combined aggregate broadcast back onto the
    # frame (one tiny row per group — never a window over the vector rows,
    # which would cost a second full exchange of the vectors); block count
    # s=1 for in-limit groups, so the explode is a no-op row-for-row there.
    sizes = withvec.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_gsz"))
    sized = withvec.join(F.broadcast(sizes), list(group_cols)).withColumn(
        "_s",
        F.ceil(F.col("_gsz") / F.lit(int(max_group_rows))).cast("int"),
    ).withColumn("_blk", F.pmod(F.xxhash64("_id"), F.col("_s")).cast("int"))
    block_pairs = F.transform(
        F.sequence(F.lit(0), F.col("_s") - 1),
        lambda j: F.struct(
            F.least(F.col("_blk"), j.cast("int")).alias("gi"),
            F.greatest(F.col("_blk"), j.cast("int")).alias("gj"),
        ),
    )
    exploded = (
        sized.select(
            *group_cols, "_id", "_v", "_blk",
            F.explode(block_pairs).alias("_gp"),
        )
        .select(
            *group_cols, "_id", "_v", "_blk",
            F.col("_gp.gi").alias("_gi"), F.col("_gp.gj").alias("_gj"),
        )
        # No explicit repartition: the frame is partitioned by _id (the
        # vector join key), which does NOT satisfy the grouping
        # requirement, so groupBy inserts exactly one exchange on
        # (group, _gi, _gj) — a hot group's block pairs land in distinct
        # partitions and run in parallel for free.
    )
    pairs = exploded.groupBy(*group_cols, "_gi", "_gj").applyInPandas(
        _group_pairs, "a long, b long, _c double"
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.round(F.max("_c"), 4).alias("cos"))
        .select("a", "b", "cos")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 32,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = 10_000,
    max_group_rows: int = 16_384,
) -> DataFrame:
    """Cosine near-dup pairs via *banded* random-hyperplane (sign) LSH.

    ``num_planes`` sign bits are split into ``bands`` band keys of
    num_planes/bands bits each (same banding idea as MinHash-LSH): two
    vectors are candidates iff they agree on *all* bits of *some* band.
    With the 32/4 defaults each band has 2^8 = 256 buckets, so expected
    bucket occupancy is n/256 *per band* and shrinks further as planes are
    added — the bucket count scales with the plane budget, not O(1), which
    is what keeps the within-bucket self-join from going quadratic at scale
    (a single un-banded 2^p bucketing either kills recall for large p or
    explodes pairs for small p). ``max_bucket_size`` additionally drops
    degenerate buckets (e.g. a mass of zero vectors).

    Verification is exact cosine ≥ threshold, executed in place per bucket
    (``_verify_pairs_within_groups``): the banded frame carries only
    (id, band, key) ≈ 24-byte rows, ONE join keys the vectors by bucket,
    and candidate pairs never materialize as shuffled rows.

    ``dim`` is the embedding dimensionality and must be supplied (array
    columns carry no length in the schema; peeking a row would put a
    driver-side action inside plan construction). ``num_planes`` must be a
    multiple of ``bands`` (``ValueError`` otherwise), as for every sign-LSH
    key builder (similarity.with_lsh_keys, lsh_topk).
    """
    if dim is None:
        raise ValueError(
            "embedding_near_dup_pairs requires dim= (array<float> columns "
            "carry no length in the schema)"
        )
    band_keys = SIM._band_keys_udf(dim, num_planes, bands, seed)
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    banded = base.select("_id", F.posexplode(band_keys(F.col("_v"))).alias("band", "bkey"))
    if max_bucket_size:
        # window cap, not groupBy+semi-join — the semi-join's build side
        # re-ran the pandas_udf banding over every vector (r11-opt, §2.4;
        # same rationale as simhash_near_dup_pairs above)
        bucket = Window.partitionBy("band", "bkey")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(bucket))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    # The verify helper fans out into multiple consumers (sizes aggregate
    # + sized join), each of which would re-run the banding pandas_udf
    # over every vector (r12: q45's plan showed 4 ArrowEvalPython nodes
    # for ONE banding pass). Materialize the narrow (id, band, bkey) rows
    # once — vectors are re-attached by the join below, never pinned
    # here.
    banded = materialize(banded)
    withv = banded.join(base, "_id")
    return _verify_pairs_within_groups(withv, ["band", "bkey"], threshold, max_group_rows)


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_cells: int | None = 16,
    iterations: int = 2,
    probes: int = 2,
    max_cell_size: int | None = 50_000,
    centroids: list[tuple[int, list[float]]] | None = None,
    max_group_rows: int = 16_384,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster embeddings with the
    IVF coarse quantizer, then verify exact cosine ONLY within a cluster
    (the published SemDeDup recipe — near-dups land in the same semantic
    cluster, so cross-cluster pairs never need to be considered).

    ``probes`` soft-assigns each vector to its top-p nearest cells (p=2
    default): a near-dup pair that straddles a cell BOUNDARY has, by
    construction, near-equal cosine to both adjacent centroids, so the two
    vectors share their top-2 cell sets and the pair is still found —
    single-assignment SemDeDup measurably loses boundary twins (one of the
    five planted q81 pairs at sf0.1). A pair both probe cells verify is
    collapsed on (a, b) after the verify, so overlap never double-counts.

    Complements the sign-LSH route (``embedding_near_dup_pairs``): LSH
    bounds pair work by random-hyperplane buckets (recall controlled by
    the plane budget), this bounds it by learned k-means cells (recall
    controlled by cluster granularity vs dup distance). At 100 TB the
    cluster assignment is one scan + numpy-matmul pandas_udf against a
    broadcast (num_cells × dim) centroid matrix; verification shuffles the
    VECTORS once (keyed by cell) and each cell checks its pairs in one
    blocked BLAS matmul inside applyInPandas — candidate pairs never
    materialize as rows, so shuffle volume stays O(N·probes) vectors.
    ``max_cell_size`` drops degenerate mega-cells (quadratic-FLOP guard,
    same policy as the LSH bucket cap). Centroid fitting is an offline
    O(num_cells · dim) build step — amortized per corpus version like the
    IVF index build.

    ``num_cells=None`` sizes the clustering to the corpus via
    ``similarity.auto_dedup_cells`` (cells = N / 256, i.e. FIXED average
    membership) — the scale-safe default. A fixed cell count makes the
    within-cell candidate set O(N²/cells): the round-7 sf10 tail check
    measured 16 cells over 200k vectors concentrating ~5e9 candidate
    pairs into 16 join keys (one task burned 40+ CPU-minutes in the
    candidate distinct before being killed). With membership fixed, the
    candidate count is O(N·256) — linear — and the cell key fan-out grows
    with the data so every executor gets work.

    Returns (a, b, cos) with a < b and cos ≥ threshold, cosines rounded
    to 4 decimals.
    """
    if centroids is None:
        # O(num_cells) — offline build step; pass ``centroids`` to amortize
        # it per corpus version, as an ANN service amortizes its index build.
        centroids = fit_semantic_centroids(df, id_col, vec_col, num_cells, iterations)
    topp_cells = SIM._nearest_cell_udf(
        [c for _, c in centroids], [cid for cid, _ in centroids], top=probes
    )

    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    assigned = base.select("_id", F.explode(topp_cells(F.col("_v"))).alias("cell"))
    # The cap's build side, its semi-join probe side, and the verify
    # helper's two consumers all descend from `assigned` — without a
    # materialization each re-runs the assignment pandas_udf over every
    # vector. Materialize the narrow (id, cell) rows once (same rationale
    # as the LSH banded frames above).
    assigned = materialize(assigned)
    if max_cell_size:
        # Occupancy = DISTINCT members per cell. Under soft assignment each
        # vector lands in up to ``probes`` cells, so a raw row count would be
        # up to probes x the true membership and the quadratic guard would
        # bite probes x earlier than the parameter name implies; the cap is
        # meant to bound the within-cell pairwise verify, whose FLOP count
        # is exactly (distinct members choose 2) cosines.
        ok = (
            assigned.groupBy("cell")
            .agg(F.countDistinct("_id").alias("_csz"))
            .filter(F.col("_csz") <= max_cell_size)
            .select("cell")
        )
        assigned = assigned.join(ok, "cell", "left_semi")
    # one join keys the vectors by cell (shuffle = |assigned| vector rows,
    # linear in N); each cell then verifies its pairs in place
    withv = assigned.join(base, "_id")
    return _verify_pairs_within_groups(withv, ["cell"], threshold, max_group_rows)


def fit_semantic_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int | None = 16,
    iterations: int = 2,
) -> list[tuple[int, list[float]]]:
    """Offline half of the SemDeDup split: fit the coarse-quantizer
    centroids once per corpus version and feed them to
    ``semantic_dedup_pairs(..., centroids=...)`` — identical amortization
    contract as the IVF index build (similarity.build_ivf_index).
    ``num_cells=None`` auto-sizes to the corpus (auto_dedup_cells)."""
    if num_cells is None:
        num_cells = SIM.auto_dedup_cells(df.count())
    return SIM.kmeans_like_centroids(
        df, num_cells=num_cells, id_col=id_col, vec_col=vec_col, iterations=iterations
    )
