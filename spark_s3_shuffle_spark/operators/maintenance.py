"""Table-maintenance tier: small-file compaction + version retention.

The reference owns its storage lifecycle explicitly — per-shuffle and
whole-app prefix deletion on unregister/stop (SURVEY A13:
`S3ShuffleDispatcher.scala:104-118,174-183`, `S3ShuffleManager.scala:
156-186`). This module is the same discipline applied to the engine's
own on-storage artifacts:

- ``compact_shards``: streaming appends (`export_shards_sink`) leave one
  file per shard PER MICRO-BATCH; a 100 TB/day stream grows thousands of
  small files per shard, and small files are the top operational killer
  of object-store tables (per-file open cost on every read). Compaction
  rewrites each shard to its canonical single-file form — byte-stable,
  because the in-file order is pinned to the same content-hash order the
  batch writer uses, so compacting a streamed export converges it to the
  EXACT layout a one-shot batch export would have produced.
- ``vacuum_versions``: versioned artifacts (`matview_maintenance_sink``'s
  ``v<batch_id>`` summaries) accumulate one immutable directory per
  refresh; retention keeps the last N and deletes the rest — the
  summary-table analogue of the reference's ``removeShuffle``.

Both operate through the Hadoop FileSystem API, so ``file://`` in tests
and ``s3a://`` in production run the same code path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.operators.exchange import (
    _digest_aggs,
    _digest_of,
    _fs,
    _read_json,
    _write_json,
)


def list_shard_files(spark: SparkSession, root: str) -> dict[str, int]:
    """Map ``shard=<k>`` directory name -> parquet part-file count."""
    fs, hroot, jvm = _fs(spark, root)
    out: dict[str, int] = {}
    if not fs.exists(hroot):
        return out
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("shard=")):
            continue
        n = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().startswith("part-")
        )
        out[name] = n
    return out


def compact_shards(
    spark: SparkSession,
    root: str,
    id_col: str,
    salt: str = "shard",
) -> dict[str, int]:
    """Rewrite a sharded export so every shard holds ONE file in canonical
    content-hash order, converging any append history to the layout a
    one-shot batch export would have produced (byte-stable: reruns and
    re-compactions are no-ops modulo parquet metadata).

    The rewrite is one job over the whole table: read (partition-pruned
    parquet), one exchange back onto the shard key with as many tasks as
    shards, task-local hash sort, then a crash-safe per-shard swap:
    write the compacted tree to ``<root>/.compact``, rename each live
    ``shard=k`` aside to ``.old-k``, rename the compacted shard in, then
    delete ``.old-k``. Every intermediate crash state retains either a
    visible copy of each shard or a recoverable hidden one (``.compact``
    / ``.old-*`` are dot-prefixed, so parquet readers never see partial
    state), and a rerun first completes/rolls back the interrupted swap
    via ``recover_compaction`` before rescanning the table — so the
    rescan never observes a table missing a shard's rows. Returns the
    per-shard file count after compaction.

    Scale: cost is one scan + one exchange of the table — run it when the
    per-shard file count (``list_shard_files``) crosses a threshold, not
    per append. Compaction never changes row content or order contract,
    only file boundaries.

    Reader coordination: the swap is crash-safe but DESTRUCTIVE — a
    reader that resolved its parquet file list before the swap finds
    those paths renamed away mid-read and fails (it never sees torn
    DATA, the shard directories flip whole, but its pinned listing
    dies). Use this form for quiesced/maintenance-window tables; tables
    with concurrent readers should be versioned and compacted with
    :func:`compact_shards_versioned`, which never touches the files a
    pinned reader resolved (tests/test_pipeline.py race test).
    """
    fs, hroot, jvm = _fs(spark, root)
    recover_compaction(spark, root)
    tmp = f"{root}/.compact"
    df = spark.read.parquet(root)
    shards = [r["shard"] for r in df.select("shard").distinct().collect()]
    n_shards = len(shards)
    order = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    (
        df.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions(F.col("shard"), order, F.col(id_col))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    for st in fs.listStatus(htmp):
        name = st.getPath().getName()
        if not name.startswith("shard="):
            continue
        dest = jvm.org.apache.hadoop.fs.Path(f"{root}/{name}")
        aside = jvm.org.apache.hadoop.fs.Path(f"{root}/.old-{name}")
        # Hadoop FileSystem.rename signals failure by returning False, not
        # raising. A swallowed False on the aside rename would leave dest
        # in place and make the rename-in nest the compacted tree INSIDE
        # the old shard directory (shard=k/shard=k) — a silent layout
        # corruption. Abort loudly instead; recover_compaction repairs the
        # half-swap on the next run.
        if fs.exists(dest) and not fs.rename(dest, aside):
            raise IOError(f"compact_shards: rename aside failed: {dest} -> {aside}")
        if not fs.rename(st.getPath(), dest):
            raise IOError(
                f"compact_shards: rename in failed: {st.getPath()} -> {dest}"
            )
        if fs.exists(aside):
            fs.delete(aside, True)
    fs.delete(htmp, True)
    return list_shard_files(spark, root)


def recover_compaction(spark: SparkSession, root: str) -> dict[str, str]:
    """Complete or roll back an interrupted ``compact_shards`` swap so the
    visible table is whole again. For every hidden ``.old-shard=k`` left
    by a crash: if the visible ``shard=k`` is missing, the crash hit
    between rename-aside and rename-in — restore the old copy (rollback;
    the pending compacted copy in ``.compact`` is discarded with the rest
    of the tmp tree). If the visible shard is present, the compacted copy
    was already renamed in — just drop the stale ``.old-`` copy (roll
    forward). Finally delete any leftover ``.compact`` tree. Idempotent;
    returns ``{shard_name: "restored" | "dropped_old"}`` for audit."""
    fs, hroot, jvm = _fs(spark, root)
    actions: dict[str, str] = {}
    if not fs.exists(hroot):
        return actions
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not name.startswith(".old-shard="):
            continue
        shard_name = name[len(".old-"):]
        dest = jvm.org.apache.hadoop.fs.Path(f"{root}/{shard_name}")
        if not fs.exists(dest):
            if not fs.rename(st.getPath(), dest):
                raise IOError(
                    f"recover_compaction: restore failed: {st.getPath()} -> {dest}"
                )
            actions[shard_name] = "restored"
        else:
            fs.delete(st.getPath(), True)
            actions[shard_name] = "dropped_old"
    htmp = jvm.org.apache.hadoop.fs.Path(f"{root}/.compact")
    if fs.exists(htmp):
        fs.delete(htmp, True)
    return actions


def committed_versions(spark: SparkSession, root: str) -> list[str]:
    """Sorted ``v<N>`` directory names under ``root`` that carry the
    ``_COMMITTED`` marker. A version EXISTS only once its marker does —
    the single-object commit discipline the S3 exchange uses for its
    manifest (s3exchange.py: readers only follow the manifest), applied
    to versioned tables: data files land first, one marker create
    publishes them, and a crash mid-write leaves an invisible, sweepable
    directory instead of a torn table."""
    fs, hroot, jvm = _fs(spark, root)
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v")):
            continue
        try:
            num = int(name[1:])
        except ValueError:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}/_COMMITTED")):
            out.append((num, name))
    return [name for _, name in sorted(out)]


def current_version(spark: SparkSession, root: str) -> str | None:
    """Newest committed version name (highest-committed-wins pointer — no
    rename, no read-modify-write, so concurrent publishers converge the
    same way racing manifest PUTs do)."""
    versions = committed_versions(spark, root)
    return versions[-1] if versions else None


def write_version(spark: SparkSession, df, root: str, shard_col: str = "shard") -> str:
    """Publish ``df`` as the next committed version of a versioned
    sharded table. Safe under RACING publishers: each writer stages its
    data under a unique hidden directory, then claims a version NUMBER
    with an atomic exclusive create of ``.claim-v<N>`` (create with
    overwrite=false — the one-winner primitive HDFS and local FS give
    us; on S3 use the exchange's manifest-pointer commit instead). Only
    the claim winner renames its staging directory to ``v<N>`` and
    creates the ``_COMMITTED`` marker; a loser retries at N+1 with its
    OWN staging directory, so two writers' files can never interleave
    inside one version. A crash between claim and commit leaves an
    orphan claim (that number is simply skipped) and an invisible
    staging directory — both sweepable, never a torn committed version.
    If a slow claimer of ``v<N>`` commits after a faster writer committed
    ``v<N+1>``, highest-committed-wins shadows it, the same convergence
    order racing manifest PUTs have. Returns the new version name."""
    import uuid

    fs, hroot, jvm = _fs(spark, root)
    stage = f"{root}/.stage-{uuid.uuid4().hex}"
    df.write.mode("overwrite").partitionBy(shard_col).parquet(stage)
    versions = committed_versions(spark, root)
    num = int(versions[-1][1:]) + 1 if versions else 0
    for _ in range(1000):
        claim = jvm.org.apache.hadoop.fs.Path(f"{root}/.claim-v{num}")
        try:
            out = fs.create(claim, False)
            out.close()
            break
        except Exception as e:  # FileAlreadyExistsException → number taken
            if "exist" not in str(e).lower():
                raise
            num += 1
    else:
        raise IOError(f"write_version: could not claim a version under {root}")
    nxt = f"v{num}"
    dest = jvm.org.apache.hadoop.fs.Path(f"{root}/{nxt}")
    # We hold the claim, so a pre-existing dest can only be a torn
    # uncommitted directory (its number is above the newest marker and
    # nobody else can claim it): sweep it, else rename would NEST the
    # staging dir inside it instead of replacing it.
    if fs.exists(dest):
        fs.delete(dest, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(stage), dest):
        raise IOError(f"write_version: rename failed: {stage} -> {dest}")
    marker = fs.create(jvm.org.apache.hadoop.fs.Path(f"{root}/{nxt}/_COMMITTED"), True)
    marker.close()
    # The claim file is RETAINED: deleting it would let a stale racer
    # re-claim this number and rename its staging dir INTO the existing
    # v<N> (Hadoop rename-to-existing-dir nests, it doesn't fail).
    # vacuum_versions sweeps claims alongside their version directories.
    return nxt


def compact_shards_versioned(
    spark: SparkSession,
    root: str,
    id_col: str,
    salt: str = "shard",
) -> tuple[str, dict[str, int]]:
    """Compaction for VERSIONED sharded tables — the pinned-reader-safe
    variant of :func:`compact_shards`.

    The in-place swap is crash-safe but destructive: a reader that
    resolved its file list before the swap finds its paths renamed away
    mid-read. Here compaction never touches the live version: it reads
    the current committed version, writes the canonical single-file-per-
    shard layout as a NEW version directory, and publishes it with the
    one-marker commit. A reader that pinned ``v<N>`` before (or during)
    the compaction keeps reading ``v<N>``'s untouched files to completion
    and sees exactly the pre-compaction row multiset; readers arriving
    after the marker resolve ``v<N+1>``. Old versions are reclaimed by
    :func:`vacuum_versions`, whose ``keep_last >= 2`` floor exists
    precisely so the previous version outlives in-flight readers.

    Returns ``(new_version_name, per-shard file counts in it)``.
    """
    cur = current_version(spark, root)
    if cur is None:
        raise FileNotFoundError(f"no committed version under {root}")
    df = spark.read.parquet(f"{root}/{cur}")
    shards = [r["shard"] for r in df.select("shard").distinct().collect()]
    order = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    compacted = df.repartition(len(shards), F.col("shard")).sortWithinPartitions(
        F.col("shard"), order, F.col(id_col)
    )
    nxt = write_version(spark, compacted, root)
    counts = list_shard_files(spark, f"{root}/{nxt}")
    return nxt, counts


def vacuum_versions(
    spark: SparkSession, root: str, keep_last: int = 2
) -> list[str]:
    """Delete all but the newest ``keep_last`` ``v<id>`` version
    directories under ``root`` (the retention pass for
    ``matview_maintenance_sink`` summaries). Returns the deleted names.
    ``keep_last`` must be >= 2: the newest ``v<batch_id>`` directory may
    be an uncommitted write from a crashed micro-batch (the sink commits
    a version before the checkpoint records the batch), so the replay's
    ``latest_summary(below_batch_id=N)`` needs at least one OLDER
    committed version to rebuild from — retaining only the newest could
    leave replay with nothing below N, silently discarding history.
    Keeping two also tolerates a reader holding the previous version
    open across the vacuum."""
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: the newest version may be an "
            "uncommitted crashed-micro-batch write; replay needs an "
            "older committed version to rebuild from"
        )
    fs, hroot, jvm = _fs(spark, root)
    if not fs.exists(hroot):
        return []
    versions = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v"):
            try:
                versions.append((int(name[1:]), name))
            except ValueError:
                continue
    versions.sort()
    doomed = [name for _, name in versions[:-keep_last]]
    for name in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}"), True)
        # write_version retains its .claim-v<N> marker (re-claiming a
        # once-used number is unsafe); sweep it with its version.
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/.claim-{name}"), False)
    return doomed


def snapshot_diff(old, new, key_cols: list[str]):
    """Reconcile two snapshots of a keyed table: one row per key present
    in either side, labeled ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` (value comparison is NULL-safe over all common non-key
    columns). The migration-validation primitive: diff the pre- and
    post-backfill snapshots and assert the change set is exactly what the
    job intended.

    Plan shape: ONE full outer join keyed on the snapshot key (both
    sides hash-partitioned once) and a codegen projection for the status
    label — no collect, no per-column shuffles; at 100 TB the cost is
    the two scans plus one co-partitioned exchange each. Returns
    ``(*key_cols, status)`` plus ``old_<c>`` / ``new_<c>`` for each
    compared column.
    """
    val_cols = [
        c for c in old.columns if c in set(new.columns) and c not in key_cols
    ]
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in val_cols]
    ).withColumn("_in_old", F.lit(1))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in val_cols]
    ).withColumn("_in_new", F.lit(1))
    j = o.join(n, key_cols, "full_outer")
    same_vals = F.lit(True)
    for c in val_cols:
        same_vals = same_vals & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same_vals, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        *key_cols,
        status.alias("status"),
        *[F.col(f"old_{c}") for c in val_cols],
        *[F.col(f"new_{c}") for c in val_cols],
    )


def _shard_digests(df) -> dict:
    """shard -> {"digest", "rows"} over the non-shard columns, shards and
    keys in sorted order (the ``_integrity.json`` layout)."""
    data_cols = [c for c in df.columns if c != "shard"]
    out = {}
    for r in df.groupBy("shard").agg(*_digest_aggs(data_cols)).collect():
        rows, digest = _digest_of(r)
        out[str(r["shard"])] = {"digest": digest, "rows": rows}
    return dict(sorted(out.items()))


def export_integrity_manifest(spark: SparkSession, root: str) -> dict:
    """Per-shard content checksums for a sharded export: ONE pass over the
    table computes (rows, order-independent xxhash64 sum in exact
    decimal) per shard and persists them as ``_integrity.json`` beside
    the shards. A training consumer can then verify any single shard it
    downloads — or the whole export — without trusting transport or
    storage. Returns the manifest dict."""
    manifest = _shard_digests(spark.read.parquet(root))
    _write_json(spark, f"{root}/_integrity.json", manifest)
    return manifest


def verify_export_integrity(
    spark: SparkSession, root: str, shard: str | None = None
) -> bool:
    """Recompute shard checksums and compare with ``_integrity.json``.
    With ``shard`` set, only that shard's files are read (partition-pruned
    scan) — the single-download verification path. Returns False on any
    mismatch or missing manifest."""
    manifest = _read_json(spark, f"{root}/_integrity.json")
    if manifest is None:
        return False
    # Total loss — every shard's parquet gone, only the manifest left —
    # makes the read itself raise rather than produce a digest mismatch;
    # report False (verification failed) like every other corruption,
    # mirroring exchange.verify_stage_checksum.
    try:
        df = spark.read.parquet(root)
    except Exception:
        return False
    if shard is not None:
        df = df.filter(F.col("shard") == shard)
        want = {shard: manifest.get(shard)}
        if want[shard] is None:
            return False
    else:
        want = manifest
    return _shard_digests(df) == want
