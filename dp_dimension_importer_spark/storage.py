"""Physical table layout: partitioned and bucketed parquet writes.

This is the piece that turns the engine's "repoint the catalog at
partitioned / bucketed tables" claim (catalog.py module docstring) into
working code. Two layouts, each killing a different cost at 100 TB:

* **Partitioned writes** (``partitionBy`` → one directory per value):
  partition PRUNING happens at file-listing time, so a filter on the
  partition column never touches excluded files at all — the scan cost is
  proportional to the data you asked for, not the table size. The audit
  (tests/test_plans.py) pins ``PartitionFilters`` in the scan node.

* **Bucketed writes** (``bucketBy(n, key)`` + ``sortBy`` → fixed file
  fan-out per bucket): every reader joining or aggregating ON THE BUCKET
  KEY skips its Exchange entirely — the scan's output partitioning already
  satisfies the required distribution. For the fact-to-fact joins that
  dominate a 100 TB star schema (lineitem ⋈ orders on orderkey), bucketing
  both sides with the same count turns every downstream join from a
  full-table shuffle into a zipped per-bucket merge. The audit pins
  zero ``Exchange`` nodes in a bucketed sort-merge join AND in a
  bucket-key aggregate.

Bucketed tables go through ``saveAsTable`` (bucket metadata lives in the
session catalog; a bare ``parquet(path)`` write cannot record it). Pass
``path`` to make the table EXTERNAL at a location you own — dropping the
catalog entry then never deletes data. Bucket counts should be sized so
one bucket of the biggest table fits an executor's memory (at 100 TB and
1024 buckets that is ~100 GB/bucket pre-compression — size up accordingly;
counts must MATCH across tables you intend to co-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


#: default parquet codec for every writer here: zstd compresses the text-
#: heavy tables ~30-40% smaller than snappy at similar CPU — at 100 TB
#: that is the difference in scan time, shuffle spill, and storage bill.
PARQUET_CODEC = "zstd"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols`` (one
    directory level per column, low-cardinality columns only — each
    value is a directory; a high-cardinality partition column is the
    classic small-files trap).

    The explicit-width repartition pins the exchange against AQE
    coalescing (the hive-writer lesson, ``_write_partitioned_files``):
    without it a small write collapses to ONE task that opens every
    partition directory's file sequentially; with it each partition
    value lands wholly in one task (one file per value per write, fewer
    files than the per-task-per-value fan-out) and file creation runs in
    parallel across the session's shuffle width."""
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (df.repartition(width, *partition_cols)
     .write.mode(mode).option("compression", compression)
     .partitionBy(*partition_cols).parquet(path))


def read_partitioned(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Read a partitioned parquet table; filters on partition columns
    prune directories before any file is opened. ``schema`` (DDL,
    INCLUDING the partition columns) skips the footer-sampling
    inference job when the caller knows the layout it wrote (guide §6)
    — partition-directory discovery still applies."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    mode: str = "overwrite",
    path: str | None = None,
    sort: bool = True,
    compression: str = PARQUET_CODEC,
) -> None:
    """Write ``df`` as a bucketed (and, by default, per-bucket sorted)
    parquet table registered in the session catalog. Sorting within
    buckets lets a sort-merge join skip its per-task Sort too, and gives
    min/max row-group pruning on the key.

    One hard rule at scale: the writer must not produce one file per
    (task × bucket) — Spark does NOT shuffle for a bucketBy write, so a
    T-task write of a B-bucket table emits up to T×B small files (at
    1000 executors × 1024 buckets, millions). The explicit
    ``repartition(n_buckets, bucket_col)`` here aligns write tasks with
    buckets (both sides hash with the same Murmur3 pmod), so each task
    holds exactly one bucket's rows and the output is ``n_buckets``
    files."""
    w = (
        df.repartition(n_buckets, bucket_col)
        .write.mode(mode)
        .format("parquet")
        .option("compression", compression)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)  # external table: data outlives catalog
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table THROUGH THE CATALOG — ``spark.table`` is what
    carries the bucket spec to the planner; reading the parquet path
    directly would silently lose it (and reintroduce the shuffle)."""
    return spark.table(table)


def write_sharded(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_col: str | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
) -> None:
    """Write a size-controlled training-shard set — the defense against
    the two output pathologies of a 100 TB job: the SMALL-FILES problem
    (one file per task × partition — thousands of KB-sized parquet files
    that throttle every later scan on listing + footer reads) and its
    inverse (one monster file per skewed partition that a single reader
    must chew through).

    * ``n_shards`` fixes the file fan-out: a round-robin ``repartition``
      (or ``repartitionByRange`` on ``order_col``, which keeps a global
      sort order across shard files — what a curriculum or
      deterministic-iteration loader wants) produces exactly that many
      balanced write tasks.
    * ``max_records_per_file`` caps rows per file on top of that, so one
      oversized range still splits instead of producing a monster file.
    """
    part = (
        df.repartitionByRange(n_shards, order_col)
        if order_col is not None
        else df.repartition(n_shards)
    )
    w = part.write.mode(mode).option("compression", compression)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


#: bits per clustering column in the Morton code (16 rank-buckets/column —
#: enough spread for file-level skipping at any realistic shard count; the
#: code is a write-time routing key, not an identity, so low precision is
#: fine and keeps the bucket-boundary when-chain inside codegen)
ZORDER_BITS = 4


def _morton_code(bucket_cols, bits: int):
    """Interleave the bits of N rank-bucket columns into one Z-order code:
    bit j of column i lands at position j·N + i, so a range of codes is a
    compact hyper-rectangle-ish region of the N-dim rank space. Pure
    shift/or arithmetic on small ints — codegen'd, no UDF."""
    from pyspark.sql import functions as F

    n = len(bucket_cols)
    code = F.lit(0)
    for i, c in enumerate(bucket_cols):
        for j in range(bits):
            code = code.bitwiseOR(
                F.shiftleft(F.shiftright(c, j).bitwiseAND(F.lit(1)), j * n + i)
            )
    return code


def write_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_shards: int,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
) -> None:
    """Z-order-style MULTI-column clustering for data skipping — the gap
    :func:`write_sharded` leaves open: range-sharding on ``order_col``
    gives tight min/max file stats on ONE column; a predicate on any
    other column still touches every file. This writer rank-quantizes
    each clustering column (boundaries from a distributed
    ``approxQuantile`` — a sample, never a global sort), interleaves the
    bucket bits into a Morton code, and ``repartitionByRange``s on the
    code: each output file covers a compact region of the JOINT rank
    space, so parquet min/max stats prune files for predicates on ANY
    clustered column or combination (the on-disk audit shows a 2-column
    predicate skipping most files vs an unclustered layout).

    Rank quantization (not value-width buckets) makes the layout skew-
    immune: a heavy-hitter value occupies many buckets of its own instead
    of dragging half the table into one. All arithmetic is codegen'd
    expressions; the only driver materialization is the ~2^bits·|cols|
    boundary values. The code column is dropped before writing — it is a
    routing key, not data. Files are additionally sorted by the code
    within each shard so row-group stats stay tight inside big files."""
    (
        zorder_layout(df, cols, n_shards)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def zorder_layout(df: DataFrame, cols: list[str], n_shards: int) -> DataFrame:
    """The clustering transform behind :func:`write_clustered`, factored
    so any writer can adopt it (``optimize_snapshot`` feeds it to the
    snapshot commit): rank-quantize each column, interleave the bucket
    bits into a Morton code, range-repartition into ``n_shards`` and sort
    within each — the returned frame's partitions ARE the to-be-written
    files, each covering a compact region of the joint rank space."""
    from pyspark.sql import functions as F

    if not cols or n_shards < 1:
        raise ValueError("need ≥1 clustering column and ≥1 shard")
    n_buckets = 1 << ZORDER_BITS
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE multi-column approxQuantile pass (not a scan per column), over
    # double-casted copies so numeric/date/decimal all rank uniformly
    casted = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    all_cuts = casted.approxQuantile(cols, qs, 0.01)
    bucket_exprs = []
    for c, cuts in zip(cols, all_cuts):
        if not cuts:
            # approxQuantile returns [] for an all-null / non-castable
            # column — every row would land in bucket 0 and the promised
            # skipping on this column would silently not exist
            raise ValueError(
                f"zorder_layout: column {c!r} has no castable non-null "
                "values to rank-quantize — clustering on it is a no-op"
            )
        b = F.lit(0)
        for cut in cuts:  # monotone when-chain: count boundaries passed
            b = b + F.when(F.col(c).cast("double") > cut, 1).otherwise(0)
        bucket_exprs.append(b)
    code = _morton_code(bucket_exprs, ZORDER_BITS).alias("__zcode")
    return (
        df.withColumn("__zcode", code)
        .repartitionByRange(n_shards, F.col("__zcode"))
        .sortWithinPartitions("__zcode")
        .drop("__zcode")
    )


def optimize_snapshot(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_shards: int = 8,
) -> int:
    """Table-format OPTIMIZE: rewrite the CURRENT snapshot version
    Z-order-clustered on ``cols`` and commit the rewrite as a NEW version
    with per-file min/max stats for those columns — same rows, better
    layout, so :func:`read_snapshot_pruned` skips files for predicates on
    any clustered column. Readers of every prior version are untouched
    (snapshot isolation — the property an in-place re-layout cannot
    offer), time travel still reaches the pre-optimize layout, and a
    crash mid-rewrite leaves the table at the old version; superseded
    data files are reclaimed by ``vacuum_snapshots``. Returns the new
    version number.

    An EMPTY current version (a delete-everything is legal) still
    commits — there is nothing to rank-quantize, so the empty frame is
    committed directly; ``zorder_layout``'s all-null refusal stays
    reserved for non-empty tables whose clustering column genuinely
    cannot rank (found by the r9 hypothesis model: overwrite →
    delete-all → optimize crashed)."""
    cur = read_snapshot(spark, path)
    if cur.isEmpty():
        return write_snapshot(spark, cur, path, stats_cols=cols)
    return write_snapshot(
        spark, zorder_layout(cur, cols, n_shards), path, stats_cols=cols
    )


def optimize_snapshot_incremental(
    spark: SparkSession,
    path: str,
    cols: list[str],
    since_version: int,
    n_shards: int = 4,
    compression: str = PARQUET_CODEC,
) -> dict:
    """INCREMENTAL OPTIMIZE — the only OPTIMIZE a 100 TB table can afford
    daily: Z-order-rewrite ONLY the files added after ``since_version``
    (typically the last full/incremental optimize), carrying every
    already-clustered file untouched. Each optimize batch is internally
    clustered with tight per-file stats, which is what read-side pruning
    consumes — per-file, never globally — so batched clustering loses
    nothing pruning can see while rewriting O(new data) instead of
    O(table). The caller names the baseline version explicitly (the API
    twin of ``snapshot_changes``' version pair): no hidden marker state,
    and any prefix can serve as the clustered baseline.

    Returns ``{"version", "files_clustered", "files_kept",
    "files_written"}``; no new version when nothing was added. Refuses
    MOR tables (deltas aren't in the file list; compact first) and
    DV-carrying new files (their reads need the anti-join; purge
    first)."""
    import glob
    import os
    import uuid

    man, head, _ = _dml_head(path, None)
    versions = snapshot_versions(path)
    if since_version not in versions:
        raise FileNotFoundError(
            f"baseline version {since_version} not committed "
            f"(have {versions}) — vacuumed?"
        )
    mapping = man.get("column_mapping") or {}  # cluster logical, write physical
    if man.get("mor"):
        raise ValueError(
            "incremental OPTIMIZE on a MOR table: a live chain's base "
            "file list only moves via compaction, so there is nothing "
            "incremental to cluster — compact_mor folds the whole "
            "chain; optimize_partitions(where, minor=True|False) is "
            "the partition-scoped maintenance verb (r14)"
        )
    base_files = set(_load_manifest(path, since_version)["files"])
    kept = [rel for rel in man["files"] if rel in base_files]
    new_rels = [rel for rel in man["files"] if rel not in base_files]
    if not new_rels:
        return {
            "version": head,
            "files_clustered": 0,
            "files_kept": len(kept),
            "files_written": 0,
        }
    dv_map = man.get("dv") or {}
    if any(rel in dv_map for rel in new_rels):
        raise ValueError(
            "incremental OPTIMIZE over DV-carrying files: "
            "purge_deletion_vectors first"
        )
    df = _apply_mapping(
        # forced physical schema: the post-baseline files may span an
        # additive schema boundary (see compact's note)
        spark.read.schema(_schema_ddl(_phys_schema(man))).parquet(
            *(os.path.join(path, rel) for rel in new_rels)
        ),
        mapping,
    )
    if df.isEmpty():
        # the added files hold zero rows (an empty append's schema-only
        # part files) — nothing to cluster, nothing worth rewriting
        return {
            "version": head,
            "files_clustered": 0,
            "files_kept": len(kept),
            "files_written": 0,
        }
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    clustered = zorder_layout(df, cols, n_shards)
    if mapping:  # optimized files keep the table's ONE physical schema
        clustered = clustered.withColumnsRenamed(mapping)
    (clustered.write.mode("error")
     .option("compression", compression).parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    version = _commit_change(
        path, man, token, removed=new_rels, new_files=new_files,
        stats_cols=cols,
    )
    return {
        "version": version,
        "files_clustered": len(new_rels),
        "files_kept": len(kept),
        "files_written": len(new_files),
    }


def compact_small_files_snapshot(
    spark: SparkSession,
    path: str,
    min_file_bytes: int = 8 << 20,
    compression: str = PARQUET_CODEC,
    target_file_bytes: int | None = None,
) -> dict:
    """Incremental small-file COMPACTION — the other half of OPTIMIZE
    (:func:`optimize_snapshot` is the full Z-order rewrite; this is the
    cheap daily pass the snapshot-layer scale note prescribes so the
    live-file count tracks data size, not commit count): every file
    smaller than ``min_file_bytes`` is read once and rewritten as a
    handful of right-sized files; files already at size carry into the
    new manifest untouched (copy-on-write, byte-identical — the
    delete verb's discipline). Outputs aim at ``target_file_bytes``
    (default 4× the threshold — the Delta/Iceberg OPTIMIZE convention of
    a target well above the small-file cut), so one pass lands files
    that do NOT re-qualify as small and the daily job converges in a
    single step instead of asymptotically. Stats, when the table carries them, are
    recomputed for the new files and carried for the rest; the txn
    watermark map carries unchanged. Fewer than two small files → no-op,
    no commit. Returns ``{"version", "files_compacted", "files_kept",
    "files_written"}``."""
    import glob
    import os
    import uuid

    # column-mapped tables compact as-is: the raw concat reads and writes
    # PHYSICAL names end-to-end, so the one-physical-schema invariant
    # holds by construction; only the manifest's mapping must carry
    man, head, _ = _dml_head(path, None)
    sizes = {
        rel: os.path.getsize(os.path.join(path, rel))
        for rel in man["files"]
    }
    # DV-carrying files stay out of the raw-concat compaction path (their
    # reads need the anti-join); OPTIMIZE materializes them instead
    dv_map = man.get("dv") or {}
    small = [
        rel for rel, n in sizes.items()
        if n < min_file_bytes and rel not in dv_map
    ]
    kept = [rel for rel in man["files"] if rel not in set(small)]
    # size the output fan-out against the TARGET (not the threshold), and
    # compact only when that actually REDUCES the file count — otherwise
    # overhead-dominated tiny outputs would re-qualify as "small" and a
    # daily job would rewrite the same bytes forever
    target = target_file_bytes or 4 * min_file_bytes
    # estimate MERGED output bytes, not input-sum: each tiny parquet file
    # carries ~0.5 KB of header/footer/dictionary overhead that merging
    # sheds (98 ten-row files measured 52 KB on disk but 12 KB merged) —
    # sizing the fan-out on the raw sum leaves sub-threshold outputs
    est = sum(max(256, sizes[rel] - 512) for rel in small)
    n_out = -(-est // target) or 1
    if len(small) < 2 or len(small) <= n_out:
        return {
            "version": head,
            "files_compacted": 0,
            "files_kept": len(man["files"]),
            "files_written": 0,
        }
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    # round-robin repartition, not coalesce: coalesce glues INPUT
    # partitions and leaves the size skew that made the files small in
    # the first place; the shuffle moves only the small files' bytes
    # force the PHYSICAL schema: the small files may span an additive
    # schema boundary, and footer inference on a mixed set is
    # nondeterministic — compacting against a stale sampled footer would
    # silently drop the newer column's values (the same latent bug the
    # forced _manifest_df read fixed)
    (spark.read.schema(_schema_ddl(_phys_schema(man)))
     .parquet(*(os.path.join(path, rel) for rel in small))
     .repartition(int(n_out))
     .write.mode("error").option("compression", compression)
     .parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    # base-file compaction is resolution-neutral (deltas live in the mor
    # chain, never in "files"): the change set carries the chain verbatim
    version = _commit_change(
        path, man, token, removed=small, new_files=new_files
    )
    return {
        "version": version,
        "files_compacted": len(small),
        "files_kept": len(kept),
        "files_written": len(new_files),
    }


def recover_swap(path: str) -> bool:
    """Recover a table whose rename-and-swap (``merge_upsert`` whole-table
    path, :func:`compact_parquet`) crashed BETWEEN the two renames: the
    data survives intact at ``<path>__merge_old`` / ``<path>__compact_old``
    while ``path`` itself is missing. Rename the old directory back and
    return True; return False if there was nothing to recover. Idempotent;
    called automatically at the top of ``merge_upsert`` and
    ``compact_parquet``.

    Two hazards this function must not mishandle: a crash AFTER the
    second rename but BEFORE the old-directory cleanup leaves a STALE
    ``*_old`` next to a healthy table — when ``path`` exists those are
    deleted here (they are by definition older than the live table), so
    they can never shadow real data later. And if ``path`` is missing
    with MORE THAN ONE candidate (a stale dir from one op plus the
    genuine crash artifact of another), guessing could silently
    time-travel the table — refuse loudly instead."""
    import os
    import shutil

    candidates = [
        path.rstrip("/") + s for s in ("__merge_old", "__compact_old")
    ]
    if os.path.exists(path):
        # the table is live: any *_old sibling is debris from a swap that
        # completed but crashed before cleanup — remove it NOW so it can
        # never be mistaken for recovery data once path goes missing
        for old in candidates:
            shutil.rmtree(old, ignore_errors=True)
        return False
    present = [c for c in candidates if os.path.exists(c)]
    if len(present) > 1:
        raise RuntimeError(
            f"recover_swap: {path!r} is missing but multiple crashed-swap "
            f"directories exist ({present}); refusing to guess which holds "
            "the current data — inspect and rename manually"
        )
    if present:
        os.rename(present[0], path)
        return True
    return False


def compact_latest(
    df: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Latest-wins compaction: one surviving row per ``key_cols``, the one
    with the greatest ``seq_col``. ``max_by(struct(row), seq)`` — a single
    hash aggregate with map-side partial max, so the exchange carries one
    row per surviving key, never the history (the win_latest_per_key
    plan). Shared by :func:`merge_upsert` and the streaming merge sink."""
    from pyspark.sql import functions as F

    cols = df.columns
    pick = F.max_by(F.struct(*cols), F.col(seq_col)).alias("m")
    return df.groupBy(*key_cols).agg(pick).select("m.*")


def merge_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    partition_col: str | None = None,
    n_shards: int | None = None,
) -> None:
    """CDC MERGE into an existing parquet table: apply a change batch
    (inserts + latest-wins updates) to the table at ``path`` — the
    reference's idempotent node-upsert (R9/R10/R12, `store/store.go:16-20`)
    at table scale, and the table-maintenance counterpart of
    ``win_latest_per_key``'s stream compaction.

    Semantics: rows are identified by ``key_cols``; within a key the row
    with the greatest ``seq_col`` wins (change rows must carry a seq
    strictly greater than the stored row they replace; re-applying the
    same batch is idempotent — at-least-once delivery safe). Unknown keys
    insert, known keys update, absent keys are untouched.

    The scale property is in WHAT gets rewritten:

    * with ``partition_col``: only partitions the change batch actually
      touches are read, merged, and rewritten (dynamic partition
      overwrite) — untouched partitions' files are not opened, not
      rewritten, byte-identical after the merge (layout-tested). A day's
      CDC trickle against a 100 TB table costs the touched partitions,
      not the table. PRECONDITION: ``partition_col`` must be STABLE per
      key (a pure function of ``key_cols``, e.g. a key-hash bucket, or a
      business attribute that never changes for a key). A change row that
      moves a key to a new partition leaves the stored row in the old —
      unread — partition in place, yielding two rows for that key; keys
      whose partition can change belong on the whole-table path (every
      table format's partition-pruned MERGE shares this contract).
    * without: the whole table is merged and swapped through a scratch
      directory (same single-writer/local-FS shape as
      :func:`compact_parquet`; a cluster deployment hands this path to a
      table format's transaction log).

    The merge itself is ``max_by(struct(seq, row))`` per key — one hash
    aggregate with map-side partial max (the win_latest_per_key plan), so
    the shuffle carries one row per surviving key, never the history."""
    from pyspark.sql import functions as F

    def latest_wins(df: DataFrame) -> DataFrame:
        return compact_latest(df, key_cols, seq_col)

    recover_swap(path)  # heal a crash between a previous run's renames
    existing = spark.read.parquet(path)
    if set(existing.columns) != set(changes.columns):
        raise ValueError(
            f"schema mismatch: table {sorted(existing.columns)} vs "
            f"changes {sorted(changes.columns)}"
        )
    changes = changes.select(*existing.columns)  # align column order
    if partition_col is not None:
        # Materialize the batch ONCE: the touched-partition collect and
        # the merge below must see the same rows (an expensive or non-
        # deterministic change lineage evaluated twice could overwrite a
        # partition without having read its existing rows).
        changes = changes.localCheckpoint(eager=True)
        # bounded driver list: one value per TOUCHED partition (low-
        # cardinality by the same rule as write_partitioned)
        touched = [
            r[0] for r in changes.select(partition_col).distinct().collect()
        ]
        # NULL-safe membership: isin([None]) is NULL (never true), which
        # would EXCLUDE stored null-partition rows from the merge and let
        # the dynamic overwrite delete them. Match nulls explicitly.
        non_null = [t for t in touched if t is not None]
        member = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if any(t is None for t in touched):
            member = member | F.col(partition_col).isNull()
        merged = latest_wins(
            existing.filter(member).unionByName(changes)
        )
        if n_shards is not None:
            merged = merged.repartition(n_shards, partition_col)
        # localCheckpoint cuts the lineage so the write doesn't read its
        # own output path; eager => materialized before any file is moved
        (merged.localCheckpoint(eager=True)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", PARQUET_CODEC)
         .partitionBy(partition_col).parquet(path))
    else:
        import os
        import shutil

        merged = latest_wins(existing.unionByName(changes))
        tmp = path.rstrip("/") + "__merge_tmp"
        old = path.rstrip("/") + "__merge_old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        write_sharded(merged, tmp, n_shards=n_shards or 8)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    order_col: str | None = None,
) -> int:
    """Compact a small-files parquet directory (the debris an incremental
    append sink accumulates — one file per micro-batch per partition)
    down to ``target_files``, optionally range-ordered. Rewrites through
    a temp directory and swaps atomically-enough for a single writer
    (cluster deployments do this under a table format's transaction log;
    the rewrite-and-swap shape is the same). Returns the new file count."""
    import glob
    import os
    import shutil

    recover_swap(path)  # heal a crash between a previous run's renames
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    # A previous crashed run can leave either scratch directory behind;
    # os.rename onto an existing dir errors, so clear them first (the data
    # dir itself is untouched — a crash before the first rename loses
    # nothing, a crash between renames leaves __compact_old recoverable).
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    write_sharded(df, tmp, n_shards=target_files, order_col=order_col)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "*.parquet")))


# ---------------------------------------------------------------------------
# Snapshot / manifest table layer ("table-format-lite").
#
# compact_parquet's docstring defers cluster-safe swaps to "a table format's
# transaction log" — this is that log, reduced to its load-bearing minimum:
#
#   <path>/data/<token>/part-*.parquet    immutable data files, one dir per
#                                         producing write (never rewritten)
#   <path>/_manifests/v<N>.json          the committed file list of version N
#
# A version EXISTS iff its manifest file exists; the manifest is published
# with write-tmp-then-hard-link, and ``os.link`` fails atomically with
# EEXIST if another writer claimed the same version — optimistic
# concurrency without any lock service. Readers resolve a manifest ONCE and
# then read only immutable files, so a concurrent commit can never show a
# reader a half-written table (the isolation ``compact_parquet``'s
# rename-swap cannot give). On object stores, swap the hard-link claim for
# the store's if-none-match put; the layout is unchanged.
#
# Scale bound: a manifest is one JSON holding every live file path (plus
# optional per-file stats and the txn watermark map), so commit and read
# planning are O(live files) driver-side work — fine to ~10^5 files per
# table. Past that, real table formats split manifests and add a manifest
# LIST (Iceberg) or checkpointed log segments (Delta); the natural upgrade
# here is sharding v<N>.json by file-path hash with a tiny index header,
# which changes no verb's semantics. Appends in particular should be
# compacted periodically (optimize_snapshot) so the live-file count stays
# bounded by data size, not commit count.
# ---------------------------------------------------------------------------


def _manifest_dir(path: str) -> str:
    import os

    return os.path.join(path, "_manifests")


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending (empty if the table doesn't exist)."""
    import glob
    import os
    import re

    out = []
    for p in glob.glob(os.path.join(_manifest_dir(path), "v*.json")):
        m = re.fullmatch(r"v(\d+)\.json", os.path.basename(p))
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def write_snapshot(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    compression: str = PARQUET_CODEC,
    stats_cols: list[str] | None = None,
    enforce_schema: bool = True,
    mode: str = "overwrite",
    txn: tuple[str, int] | None = None,
) -> int:
    """Commit ``df`` as the table's next snapshot version; returns the
    version number. Data files land under a fresh ``data/<token>/``
    directory first; the version exists only once its manifest hard-link
    succeeds, so a crash anywhere before that leaves the table exactly at
    the previous version (orphaned data files are reclaimed by
    ``vacuum_snapshots``). Version numbers are claimed optimistically —
    on EEXIST (another writer won the race) the commit REBASES onto the
    new head and retries with the next number (both racing writers
    succeed, Iceberg/Delta optimistic concurrency); the data files need
    no rewrite because manifests, not directory names, define
    membership. The rebase refuses (:class:`ConcurrentCommitError`) when
    the race was NOT disjoint — the competing commit changed the
    schema/constraints/generated/mapping contracts or turned the table
    MOR — because this commit's rows were never validated against the
    new contracts.

    ``stats_cols``: also record per-file min/max for those columns in
    the manifest (harvested from parquet FOOTERS — no data pages read),
    enabling ``read_snapshot_pruned``. Stats ride in the same manifest
    whose hard-link IS the commit, so readers never see files without
    their stats.

    Schema contract: every manifest records the committed schema, and
    ``enforce_schema=True`` (default) allows only ADDITIVE evolution —
    the new snapshot must keep every existing column at its existing
    type (new columns are fine; time travel + ``mergeSchema`` handles
    the read side, q65's contract). A dropped or retyped column raises
    BEFORE any data is written, because the rejected commit would
    silently break every downstream reader of that column — pass
    ``enforce_schema=False`` for a deliberate breaking rewrite.

    ``mode='append'``: the new version's file list is the previous
    version's PLUS this commit's files — streaming micro-batch ingestion's
    shape (prior files untouched, their recorded stats carried forward).

    ``txn=(app_id, batch_id)``: transactional idempotence for
    at-least-once writers (Delta's txn action): every manifest carries a
    cumulative ``{app_id: highest_committed_batch_id}`` watermark map, and
    a commit whose ``batch_id`` is ≤ its app's watermark is SKIPPED — no
    data written, the current latest version returned — so a redelivered
    foreachBatch micro-batch can never land twice. Watermarks never
    regress: every verb carries the map forward (including RESTORE, which
    keeps the LATEST map rather than the restored version's stale one)."""
    import glob
    import json
    import os
    import uuid

    new_schema = {f.name: f.dataType.simpleString() for f in df.schema}
    versions = snapshot_versions(path)
    prev: dict = {}
    if versions:
        with open(
            os.path.join(_manifest_dir(path), f"v{versions[-1]}.json")
        ) as f:
            prev = json.load(f)
    prev_txn = prev.get("txn") or {}
    if txn is not None:
        app_id, batch_id = txn
        if batch_id <= prev_txn.get(app_id, -1):
            return versions[-1]  # already committed: idempotent skip
    if prev.get("generated"):
        df = _apply_generated(
            df, prev["generated"], prev.get("schema") or {},
            "write_snapshot",
        )
        new_schema = {f.name: f.dataType.simpleString() for f in df.schema}
    if enforce_schema and prev:
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"snapshot schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, new commit has "
                    f"{new_schema.get(col_name)!r} (pass "
                    f"enforce_schema=False for a breaking rewrite)"
                )
    if mode == "append" and prev.get("dropped"):
        reborn = sorted(
            c for c in new_schema
            if c not in (prev.get("schema") or {}) and c in prev["dropped"]
        )
        if reborn:
            raise ValueError(
                f"columns {reborn} reuse DROPPED column names whose bytes "
                "still live in old files — the forced scan would "
                "resurrect stale values; rewrite the table (overwrite) "
                "before reusing the name"
            )
    if prev.get("constraints"):
        _enforce_constraints(df, prev["constraints"], "write_snapshot")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown snapshot write mode {mode!r}")
    if mode == "append" and prev.get("mor"):
        # a raw append would outrank nothing and dodge resolution — on a
        # MOR table new rows go through upsert_delta_snapshot (or
        # compact_mor first); silently dropping the delta chain here
        # would be data loss
        raise ValueError(
            "append into a MOR table: use upsert_delta_snapshot, or "
            "compact_mor before appending"
        )

    mapping = (
        (prev.get("column_mapping") or {}) if mode == "append" else {}
    )
    if mapping:
        # appended files must share the table's PHYSICAL schema: write
        # with physical names, keep logical everywhere else (the mapped
        # read translates back); an overwrite instead MATERIALIZES the
        # rename — fresh files carry logical names, the map is cleared
        df = df.withColumnsRenamed(mapping)
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    carried = prev.get("files", []) if mode == "append" else []
    manifest = {"files": carried + new_files, "schema": new_schema}
    if mode == "overwrite":
        # a full rewrite sheds narrow/tombstoned file bytes: clear the
        # markers explicitly (empty overrides _commit_manifest's inherit)
        manifest["widened"], manifest["dropped"] = {}, []
    if mode == "append":
        # ADVICE r11 (medium): a plain append onto a hidden-partitioned
        # table must carry the partition block (carried files keep their
        # tuples and keep pruning; this commit's flat files map to None —
        # degrade, never lie). Dropping it silently zeroed pruning AND
        # made the next write_snapshot_partitioned append treat the
        # table as unpartitioned — the branch twin was fixed in r11, the
        # main path wasn't.
        _carry_partition(prev, manifest, new_files)
    if mapping:
        manifest["column_mapping"] = mapping
    carried_dv = {
        rel: dv
        for rel, dv in (prev.get("dv") or {}).items()
        if rel in set(carried)
    }
    if carried_dv:  # appended-to tables keep their deletion vectors
        manifest["dv"] = carried_dv
    if stats_cols is not None or (carried and "stats" in prev):
        stats = {
            rel: prev["stats"][rel]
            for rel in carried
            if rel in prev.get("stats", {})
        }
        if stats_cols is not None:
            if mapping:
                # footers speak physical names; the manifest speaks
                # logical — harvest physical, store logical
                inv = {p: l for l, p in mapping.items()}
                harvested = collect_file_stats(
                    new_files, path, [mapping.get(c, c) for c in stats_cols]
                )
                stats.update({
                    rel: {inv.get(c, c): v for c, v in per.items()}
                    for rel, per in harvested.items()
                })
            else:
                stats.update(
                    collect_file_stats(new_files, path, stats_cols)
                )
        manifest["stats"] = stats
    if prev_txn or txn is not None:
        manifest["txn"] = dict(prev_txn)
        if txn is not None:
            manifest["txn"][txn[0]] = txn[1]

    def _rebase(head: dict) -> dict:
        """Racing-writer rebase (r11 verdict #3): this commit's files are
        already on disk and disjoint from the competing commit's — rebuild
        the manifest on the new head unless a CONTRACT moved under us."""
        if head.get("mor"):
            raise ConcurrentCommitError(
                "concurrent commit made the table MOR — append would "
                "dodge delta resolution; use upsert_delta_snapshot"
            )
        if (head.get("constraints") or {}) != (prev.get("constraints") or {}):
            raise ConcurrentCommitError(
                "CHECK constraints changed concurrently — this commit's "
                "rows were not validated against them; re-run the write"
            )
        if (head.get("generated") or {}) != (prev.get("generated") or {}):
            raise ConcurrentCommitError(
                "generated-column contracts changed concurrently — "
                "re-run the write"
            )
        if txn is not None and txn[1] <= (head.get("txn") or {}).get(
            txn[0], -1
        ):
            raise ConcurrentCommitError(
                f"txn batch {txn} already committed by a concurrent "
                "writer — re-run the verb for the idempotent skip"
            )
        if enforce_schema:
            for col_name, col_type in (head.get("schema") or {}).items():
                if new_schema.get(col_name) != col_type:
                    raise ConcurrentCommitError(
                        f"concurrent schema evolution: column {col_name!r}"
                        f" is now {col_type}, this commit has "
                        f"{new_schema.get(col_name)!r}"
                    )
        head_txn = dict(head.get("txn") or {})
        if txn is not None:
            head_txn[txn[0]] = txn[1]
        if mode == "overwrite":
            # an overwrite replaces WHATEVER is latest — content stands,
            # only the watermark map re-merges
            m2 = dict(manifest)
            if head_txn:
                m2["txn"] = head_txn
            return m2
        if (head.get("column_mapping") or {}) != mapping:
            raise ConcurrentCommitError(
                "column mapping changed concurrently — this commit's "
                "files carry the old physical schema; re-run the write"
            )
        if (
            sorted(head.get("dropped") or [])
            != sorted(prev.get("dropped") or [])
            or (head.get("widened") or {}) != (prev.get("widened") or {})
        ):
            # ADVICE r12: the schema loop above iterates HEAD's schema,
            # so a column concurrently removed by drop_column (absent
            # from head, tombstoned in head['dropped']) slips through —
            # the rebased manifest would re-add the column next to the
            # inherited tombstone and the forced scan would resurrect
            # stale bytes from old files (the reborn-column hazard the
            # non-race check refuses). Widening likewise moves the
            # forced-read type contract under this commit's files.
            raise ConcurrentCommitError(
                "columns were dropped/widened concurrently — this "
                "commit's schema predates the evolution; re-run the "
                "write against the new head"
            )
        m2 = {
            "files": list(head.get("files") or []) + new_files,
            "schema": new_schema,
        }
        _carry_partition(head, m2, new_files)
        if mapping:
            m2["column_mapping"] = mapping
        if head.get("dv"):
            m2["dv"] = dict(head["dv"])
        our_stats = {
            rel: manifest["stats"][rel]
            for rel in new_files
            if rel in manifest.get("stats", {})
        } if "stats" in manifest else {}
        if head.get("stats") or our_stats:
            m2["stats"] = {**(head.get("stats") or {}), **our_stats}
        if head_txn:
            m2["txn"] = head_txn
        return m2

    return _commit_manifest(path, manifest, token, rebase=_rebase)


def _require_key_disjoint(rels, stats, key_cols, src_bounds, gate, path):
    """Key-range commit validation (r13, r12 verdict #4 — the Iceberg
    validation-based MERGE rebase): every file a racing commit touched
    (``gate`` names how: added, removed, or given a deletion vector) must
    have, on at least one key column, recorded [min, max] stats provably
    DISJOINT from the MERGE source's key range — then the racing rows
    cannot contain any source key, so neither the matched set nor the
    NOT-MATCHED insert decision is affected and the merge may rebase.
    A file with no stats gets ONE footer metadata read: zero rows means
    provably harmless (Spark's writer emits schema-only part files),
    anything else refuses — conservative by construction. ``src_bounds``:
    {key col: (encoded lo, encoded hi)}; ``stats`` values are the
    manifest's encoded [min, max] pairs."""
    import os

    import pyarrow.parquet as pq

    for rel in rels:
        per = (stats or {}).get(rel) or {}
        for kc in key_cols:
            s, b = per.get(kc), src_bounds.get(kc)
            if s is not None and b is not None and (
                s[1] < b[0] or s[0] > b[1]
            ):
                break  # provably disjoint on this key column
        else:
            try:
                n = pq.ParquetFile(
                    os.path.join(path, rel)
                ).metadata.num_rows
            except OSError:
                n = -1
            if n == 0:
                continue  # empty part file: cannot contain any key
            raise ConcurrentCommitError(
                f"MERGE rebase: file {rel!r} was {gate} and has no "
                "key-column stats provably disjoint from the source's key "
                "range — its rows may contain source keys (a NOT-MATCHED "
                "insert would write-skew); re-run the merge against the "
                "new head"
            )


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this verb's read of the table
    head and its manifest hard-link, and the commit could not be safely
    rebased onto the new head. The verb's work is NOT committed — re-run
    it against the new head (read-modify-write verbs must re-read;
    at-least-once writers with ``txn`` get the idempotent skip)."""


def _dml_head(path: str, branch: str | None):
    """Head loader for the DML verbs (r14 — DML on branches, the WAP
    gap: audits could only stage blind writes, never the delete/merge
    they actually wanted to validate before publishing): returns
    ``(manifest, head id, expected next branch commit)``. On main the
    head id is the latest version and the third slot None; on a branch
    it is the branch-local head number (0 = the fork point) and the
    commit number the DML must claim. Branch DML is SINGLE-CLAIM
    optimistic: a racing branch writer surfaces as
    :class:`ConcurrentCommitError`, never a silent lost update."""
    if branch is None:
        versions = snapshot_versions(path)
        if not versions:
            raise FileNotFoundError(
                f"no committed snapshots under {path!r}"
            )
        return _load_manifest(path, versions[-1]), versions[-1], None
    man = _branch_head_manifest(path, branch)
    bvs = branch_versions(path, branch)
    head = bvs[-1] if bvs else 0
    return man, head, head + 1


#: table contracts every commit inherits from its parent manifest unless
#: it sets the key itself (an explicit empty value clears it)
_INHERITED = ("constraints", "generated", "widened", "dropped")


def _inherit_contracts(manifest: dict, prev: dict) -> dict:
    """The one inherit rule for main AND branch commits: a verb that
    rebuilt its manifest without thinking about CHECK constraints,
    generated columns or the widened/dropped file-reality markers keeps
    ``prev``'s; only an explicit key (add/drop, an overwrite's empty
    markers) replaces them. Rows those verbs write are rearrangements of
    already-validated data, and narrow/tombstoned bytes stay on disk."""
    return {
        **manifest,
        **{
            k: prev[k] for k in _INHERITED
            if k not in manifest and prev.get(k)
        },
    }


def _commit_branch_manifest(
    path: str, name: str, manifest: dict, token: str, bv: int
) -> int:
    """Claim branch commit ``bv`` EXACTLY (tmp + hard-link, the
    write_snapshot_to_branch protocol minus its renumber-retry): a DML
    manifest is a read-modify-write derivation of the branch head, so
    losing the claim means the head moved and the derivation is stale —
    refuse, never renumber. The manifest inherits the branch head's
    contracts (:func:`_inherit_contracts`), as a main commit does."""
    import json
    import os

    bdir = _branch_dir(path, name)
    manifest = _inherit_contracts(
        manifest, _branch_head_manifest(path, name)
    )
    tmp = os.path.join(bdir, f".tmp-{token}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(bdir, f"b{bv}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"branch {name!r} advanced concurrently (b{bv} already "
            "claimed) — re-run the DML against the new branch head"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return bv


def _commit_dml_manifest(
    path, manifest, token, branch, expect_bv, rebase=None
) -> int:
    """Commit sink shared by the DML verbs: main commits go through
    :func:`_commit_manifest` (optimistic rebase and all); branch
    commits claim their pre-computed number via
    :func:`_commit_branch_manifest` (no rebase — branch audit sessions
    are single-writer by design, racing ones refuse loudly)."""
    if branch is None:
        return _commit_manifest(path, manifest, token, rebase=rebase)
    return _commit_branch_manifest(path, branch, manifest, token, expect_bv)


def _commit_manifest(path, manifest, token, rebase=None) -> int:
    """Claim the next version number optimistically and publish
    ``manifest`` under it (hard-link = the atomic commit). Shared by
    every snapshot-mutating verb — write, merge, optimize, delete.

    EEXIST on the hard-link means another writer committed first. The
    pre-r12 behavior — silently retry the SAME manifest under the next
    number — was a lost update for any commit built against the old head
    (a racing appender's files vanished from the new latest). Now
    (r11 verdict #3, the Iceberg/Delta optimistic-concurrency shape):

    * ``rebase=None`` (read-modify-write verbs whose derivation is
      stale by definition: MOR row-level DML, minor compaction, metadata
      verbs) → raise :class:`ConcurrentCommitError`; the verb re-runs.
    * ``rebase=callable`` (appends, change sets and delta groups, which
      ARE disjoint from a racing commit the callable validates) → the
      callable receives the competing head manifest, validates
      no-conflict (schema/constraints/mapping/MOR drift), and returns
      the manifest rebuilt on the new head; the claim retries with it.
      It raises ConcurrentCommitError itself on a real conflict."""
    import json
    import os

    import time

    # ADVICE r8: callers that re-publish a LOADED manifest (restore, the
    # empty-delta txn advance) may pass a dict still carrying the prior
    # version's "version" / "committed_at" keys, which would override the
    # freshly claimed values in the dump below — strip them here so no
    # caller can mislabel a commit.
    manifest = {
        k: v
        for k, v in manifest.items()
        if k not in ("version", "committed_at")
    }
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{token}.json")
    pending_rebase = False
    while True:
        version = (snapshot_versions(path) or [0])[-1] + 1
        # ADVICE r9: committed_at is wall-clock; a clock step backwards
        # would make AS-OF resolution ambiguous between adjacent versions.
        # Clamp to >= the previous version's instant so the sequence is
        # monotone non-decreasing by construction.
        committed_at = time.time()
        prev_man: dict = {}
        if version > 1:
            try:
                with open(
                    os.path.join(mdir, f"v{version - 1}.json")
                ) as pf:
                    prev_man = json.load(pf)
                prev_ct = prev_man.get("committed_at")
                if prev_ct is not None:
                    committed_at = max(committed_at, float(prev_ct))
            except (OSError, ValueError):
                pass  # prev vacuumed / unreadable: wall clock stands
        if pending_rebase:
            # rebase against the LATEST head (recomputed this iteration —
            # more commits may have landed since the failed claim, and
            # rebasing onto only the conflicting version would drop them)
            if version > 1 and not prev_man:
                raise ConcurrentCommitError(
                    f"competing head v{version - 1} of {path!r} is "
                    "unreadable — cannot validate the race was disjoint"
                )
            manifest = {
                k: v
                for k, v in rebase(prev_man).items()
                if k not in ("version", "committed_at")
            }
            pending_rebase = False
        manifest = _inherit_contracts(manifest, prev_man)
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "committed_at": committed_at,
                    **manifest,
                },
                f,
            )
        final = os.path.join(mdir, f"v{version}.json")
        try:
            os.link(tmp, final)  # atomic claim: EEXIST = lost the race
        except FileExistsError:
            if rebase is None:
                raise ConcurrentCommitError(
                    f"lost the commit race for {path!r} v{version}: "
                    "another writer committed first and this manifest "
                    "was derived from the old head — re-run the verb "
                    "against the new head"
                ) from None
            pending_rebase = True
            continue
        finally:
            if os.path.exists(final):
                os.unlink(tmp)
        return version


def version_asof(path: str, ts: float) -> int:
    """TIMESTAMP time travel resolution (``AS OF <instant>``): the newest
    retained version whose commit instant is ≤ ``ts`` (manifests record
    ``committed_at`` at hard-link time). Raises if every retained version
    is newer — the instant predates retained history (vacuum may have
    expired the version that WAS current then; resolving to a later one
    would silently answer a different question)."""
    import json
    import os

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    best = None
    for v in versions:
        mpath = os.path.join(_manifest_dir(path), f"v{v}.json")
        with open(mpath) as f:
            ct = json.load(f).get("committed_at")
        if ct is None:
            # ADVICE r9: manifests committed before committed_at existed
            # must not be skipped (that would resolve an asof instant past
            # the version that WAS current then). The manifest file's
            # mtime is the hard-link instant — the same event
            # committed_at records — so it is the honest fallback.
            ct = os.path.getmtime(mpath)
        if ct <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no retained version of {path!r} committed at or before "
            f"{ts} (earliest retained is v{versions[0]})"
        )
    return best


def _resolve_selector(
    path: str,
    version: int | None,
    tag: str | None,
    asof: float | None,
) -> int | None:
    """Shared version-selector resolution for the snapshot readers: at
    most one of ``version`` / ``tag`` / ``asof``; returns the resolved
    version number (None = latest)."""
    if sum(x is not None for x in (version, tag, asof)) > 1:
        raise ValueError("pass at most one of version, tag, asof")
    if tag is not None:
        tags = list_tags(path)
        if tag not in tags:
            raise FileNotFoundError(
                f"no tag {tag!r} on {path!r} (have {sorted(tags)})"
            )
        return tags[tag]
    if asof is not None:
        return version_asof(path, asof)
    return version


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    tag: str | None = None,
    asof: float | None = None,
) -> DataFrame:
    """Read a committed snapshot — the latest by default, any retained
    ``version`` (time travel), a named ``tag`` (:func:`tag_snapshot`),
    or the version current AS OF a unix instant (``asof``,
    :func:`version_asof`). The manifest is resolved once, then only the
    immutable files it lists are read: concurrent commits are invisible,
    and a filter/projection on top prunes and pushes down exactly as on
    a plain parquet read."""
    import json
    import os

    version = _resolve_selector(path, version, tag, asof)
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} not committed (have {versions}) — vacuumed?"
        )
    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        manifest = json.load(f)
    return _manifest_df(spark, path, manifest)


def _manifest_df(spark: SparkSession, path: str, manifest: dict) -> DataFrame:
    """Resolve ONE manifest to its DataFrame — the MOR/DV/plain dispatch
    shared by :func:`read_snapshot` and :func:`read_branch`."""
    import os

    if not manifest.get("files") and not manifest.get("mor"):
        # a legitimately EMPTY table (e.g. the corrective commit after a
        # prev-less publish race): typed empty frame from the recorded
        # schema, not a zero-path parquet read (which errors)
        ddl = ", ".join(
            f"`{c}` {t}" for c, t in (manifest.get("schema") or {}).items()
        )
        return spark.createDataFrame([], ddl or "dummy string")
    if manifest.get("mor"):
        # merge-on-read upserts: latest-wins resolution of the delta
        # chain (see upsert_delta_snapshot); versions without deltas
        # pay nothing
        return _resolve_mor(spark, path, manifest)
    mapping = manifest.get("column_mapping")
    dv_map = manifest.get("dv") or {}
    force = _phys_schema(manifest)
    if not dv_map:
        reader = spark.read
        if force:
            reader = reader.schema(_schema_ddl(force))
        return _apply_mapping(
            reader.parquet(
                *(os.path.join(path, rel) for rel in manifest["files"])
            ),
            mapping,
        )
    # merge-on-read: anti-join the version's deletion vectors (see
    # delete_where_snapshot mode="dv"); a version without DVs pays zero
    data, cols = _scan_with_pos(
        spark, path, manifest["files"], dv_map, force_schema=force
    )
    return _apply_mapping(data.select(*cols), mapping)


def merge_upsert_snapshot(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
) -> int:
    """CDC MERGE with SNAPSHOT ISOLATION: latest-wins resolve the current
    snapshot against ``changes`` (highest ``seq_col`` per key survives;
    ties break to the change side arriving later in the union — pass
    monotone seqs) and commit the result as a new version. Readers of any
    prior version are untouched — the property ``merge_upsert``'s
    in-place partition rewrite cannot offer. Returns the new version."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    current = read_snapshot(spark, path)
    unioned = current.unionByName(changes)
    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    resolved = (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return write_snapshot(spark, resolved, path)


def stage_snapshot(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    compression: str = PARQUET_CODEC,
    stats_cols: list[str] | None = None,
) -> dict:
    """WRITE step of WRITE-AUDIT-PUBLISH (Iceberg's WAP workflow on this
    layer's commit protocol): write ``df``'s data files under a fresh
    ``data/<token>/`` directory and return a STAGED handle — the files
    are INVISIBLE to every reader because no manifest references them
    (exactly the crash-invisibility property the snapshot tests pin, used
    deliberately). Audit the candidate with :func:`read_staged`; then
    either :func:`publish_snapshot` (atomic manifest hard-link, same
    commit point as every verb) or :func:`abandon_staged` (drop the
    files; an un-abandoned orphan is reclaimed by ``vacuum_snapshots``
    like any crashed commit). The audit reads the EXACT bytes that would
    publish — no re-write between audit and publish, so the check can
    never drift from the published data."""
    import glob
    import os
    import uuid

    gen = list_generated_columns(path)
    if gen:
        vs = snapshot_versions(path)
        df = _apply_generated(
            df, gen,
            _load_manifest(path, vs[-1]).get("schema") or {},
            "stage_snapshot",
        )
    cons = list_check_constraints(path)
    if cons:  # WAP stages are writes: the audit step must never be the
        # only thing standing between a violating row and publish
        _enforce_constraints(df, cons, "stage_snapshot")
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    manifest: dict = {
        "files": files,
        "schema": {f.name: f.dataType.simpleString() for f in df.schema},
        # record the maps the stage validated against (empty included) so
        # publish can detect a table that grew constraints/generated
        # contracts INSIDE the stage->audit->publish window and
        # re-validate instead of inheriting unvalidated maps
        "constraints": cons,
        "generated": gen,
        # a published candidate fully replaces the table's files: the
        # widened/dropped markers must not inherit onto fresh files
        "widened": {},
        "dropped": [],
    }
    if stats_cols is not None:
        manifest["stats"] = collect_file_stats(files, path, stats_cols)
    return {"token": token, "manifest": manifest}


def read_staged(spark: SparkSession, path: str, staged: dict) -> DataFrame:
    """AUDIT-side read of a staged (unpublished) candidate — the same
    files :func:`publish_snapshot` would commit, by construction."""
    import os

    return spark.read.schema(
        _schema_ddl(_phys_schema(staged["manifest"]))
    ).parquet(
        *(os.path.join(path, rel) for rel in staged["manifest"]["files"])
    )


def _missing_files(path: str, manifest: dict) -> list[str]:
    """Manifest data files that no longer exist on disk (module-level so
    the publish-race corrective path is unit-testable by patching)."""
    import os

    return [
        rel
        for rel in manifest["files"]
        if not os.path.exists(os.path.join(path, rel))
    ]


def publish_snapshot(
    path: str, staged: dict, enforce_schema: bool = True,
    spark: SparkSession | None = None,
) -> int:
    """PUBLISH step of WAP: commit a staged candidate as the table's next
    version — pure metadata (the manifest hard-link), zero data movement,
    so the window between a passed audit and visibility is one atomic
    filesystem op. Schema/txn rules are checked HERE against the latest
    committed version (not at stage time): publish is the serialization
    point, and a table that evolved between stage and publish must be
    re-validated against what it evolved into. That includes CHECK
    constraints and generated-column contracts (ADVICE r11 low): when
    the latest maps differ from the ones in force at stage time, the
    staged rows were never validated against them — pass ``spark`` and
    publish re-validates (one aggregate over the staged files); without
    a session it refuses rather than inherit an unvalidated map."""
    import json
    import os

    prev: dict = {}
    versions = snapshot_versions(path)
    if versions:
        with open(
            os.path.join(_manifest_dir(path), f"v{versions[-1]}.json")
        ) as f:
            prev = json.load(f)
    new_schema = staged["manifest"]["schema"]
    if enforce_schema and prev:
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"snapshot schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, staged candidate has "
                    f"{new_schema.get(col_name)!r}"
                )
    manifest = dict(staged["manifest"])
    latest_cons = prev.get("constraints") or {}
    latest_gen = prev.get("generated") or {}
    staged_cons = manifest.get("constraints") or {}
    staged_gen = manifest.get("generated") or {}
    if latest_cons != staged_cons or latest_gen != staged_gen:
        drifted_cons = {
            n: e for n, e in latest_cons.items()
            if staged_cons.get(n) != e
        }
        drifted_gen = {
            c: e for c, e in latest_gen.items()
            if staged_gen.get(c) != e
        }
        if drifted_cons or drifted_gen:
            if spark is None:
                raise ValueError(
                    "table grew constraints/generated contracts between "
                    f"stage and publish (constraints {drifted_cons}, "
                    f"generated {drifted_gen}) — pass spark= so publish "
                    "can re-validate the staged rows against them"
                )
            audit_df = spark.read.schema(
                _schema_ddl(_phys_schema(manifest))
            ).parquet(
                *(
                    os.path.join(path, rel)
                    for rel in manifest["files"]
                )
            ) if manifest["files"] else None
            if audit_df is not None:
                if drifted_gen:
                    _apply_generated(
                        audit_df, drifted_gen, new_schema,
                        "publish_snapshot (contract added after stage)",
                    )
                if drifted_cons:
                    _enforce_constraints(
                        audit_df, drifted_cons,
                        "publish_snapshot (constraint added after stage)",
                    )
        # re-validated (or only drops drifted): publish under the maps
        # the table evolved into
        manifest["constraints"] = latest_cons
        manifest["generated"] = latest_gen
    if prev.get("txn"):
        manifest["txn"] = prev["txn"]  # watermarks never regress
    # ADVICE r9: a staged candidate is deliberately vacuumable (it looks
    # like any crashed commit), so a routine vacuum running inside the
    # stage->audit->publish window may have reclaimed its files. Committing
    # anyway would publish a LATEST version with dangling references and
    # break every subsequent read — check before the commit, and re-check
    # after (a vacuum that enumerated manifests BEFORE our hard-link can
    # still unlink the files just after our pre-check).
    gone = _missing_files(path, manifest)
    if gone:
        raise ValueError(
            f"staged candidate {staged['token']!r} reclaimed by vacuum "
            f"(missing {gone[:3]}{'...' if len(gone) > 3 else ''}) — "
            "re-stage and re-audit"
        )
    version = _commit_manifest(path, manifest, staged["token"])
    gone = _missing_files(path, manifest)
    if gone:
        # ADVICE r10 (medium): NEVER unlink the committed v{version}
        # manifest — the next _commit_manifest would reuse the number
        # with different content, so a reader/tagger that observed
        # v{version} in the window would silently name different data
        # (and a tag pinned to it would survive the unlink pointing at
        # reused content). Version numbers are immutable once claimed:
        # leave the dangling manifest in place and commit a CORRECTIVE
        # follow-up re-publishing the pre-publish head (the
        # restore_snapshot shape), so the table head stays readable and
        # v{version} reads fail loudly on its missing files instead of
        # succeeding on somebody else's data.
        corrective = dict(prev) if prev else {
            "files": [], "schema": dict(new_schema),
        }
        corrective.pop("version", None)
        if manifest.get("txn"):
            corrective["txn"] = manifest["txn"]  # watermarks never regress
        import uuid

        _commit_manifest(path, corrective, uuid.uuid4().hex[:12])
        raise ValueError(
            f"staged candidate {staged['token']!r} reclaimed by a vacuum "
            f"racing the publish — v{version} is dangling and a "
            "corrective commit restored the prior head; re-stage and "
            "re-audit"
        )
    return version


def abandon_staged(path: str, staged: dict) -> None:
    """Drop a staged candidate that failed its audit — its directory and
    nothing else; committed versions are untouched."""
    import os
    import shutil

    shutil.rmtree(
        os.path.join(path, "data", staged["token"]), ignore_errors=True
    )


def merge_apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    txn: tuple[str, int] | None = None,
    valid_ops: list[str] | None = None,
) -> int:
    """Full MERGE with DELETE markers — the verb a real CDC feed needs
    that :func:`merge_upsert_snapshot` (upsert-only) cannot express:
    ``changes`` rows carry ``op_col`` ∈ {insert/update/…, ``delete_op``},
    and per key the HIGHEST-``seq_col`` change decides — a delete removes
    the key, anything else replaces (or inserts) the row. Applied with
    snapshot isolation: the result commits as a NEW version, prior
    versions stay readable. Returns the new version.

    Semantics pinned by the oracle: a delete for an absent key is a
    no-op; an insert arriving after a delete IN THE SAME feed wins if its
    seq is higher (per-key compaction happens before the merge, so intra-
    feed ordering is by seq alone); ties within a feed are a caller
    contract violation, as in every other (key, seq) verb here.

    Scale shape: the feed compacts to one row per touched key (a window
    over the FEED, never the table), then ONE key-partitioned left-anti
    join carries every untouched table row and the surviving changes
    union in. On a layout bucketed by the key the anti-join plans with
    zero table-side Exchange; AQE broadcasts the compacted feed when it
    is a sliver of the table — the common nightly-CDC case — so the cost
    is O(table scan + |feed|), not a table shuffle.

    ``txn=(app_id, batch_id)``: the same manifest idempotence watermark
    as :func:`write_snapshot` — a redelivered at-least-once micro-batch
    is skipped before any file is written, making the streaming CDC
    apply sink exactly-once."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    if txn is not None:
        versions = snapshot_versions(path)
        if versions:
            import json
            import os

            with open(
                os.path.join(_manifest_dir(path), f"v{versions[-1]}.json")
            ) as f:
                prev_txn = json.load(f).get("txn") or {}
            if txn[1] <= prev_txn.get(txn[0], -1):
                return versions[-1]  # redelivered batch: skip the compute
    current = read_snapshot(spark, path)
    data_cols = [c for c in current.columns]
    missing = [c for c in data_cols + [op_col] if c not in changes.columns]
    if missing:
        raise ValueError(
            f"merge_apply_changes: feed lacks column(s) {missing} "
            f"(needs the table schema plus {op_col!r})"
        )
    # ADVICE r9: a NULL op would make `op != delete_op` evaluate to NULL,
    # silently DELETING the key (dropped from keep, still anti-joined
    # away); an unrecognized op string would silently upsert. A malformed
    # CDC feed must fail loud, not corrupt the table — one O(|feed|)
    # aggregate over the sliver-sized feed buys the guarantee.
    bad_pred = F.col(op_col).isNull()
    if valid_ops is not None:
        domain = sorted(set(valid_ops) | {delete_op})
        bad_pred = bad_pred | ~F.col(op_col).isin(domain)
    n_bad = changes.filter(bad_pred).limit(1).count()
    if n_bad:
        sample = [
            r[op_col] for r in
            changes.filter(bad_pred).select(op_col).limit(5).collect()
        ]
        raise ValueError(
            f"merge_apply_changes: feed has rows with NULL or "
            f"unrecognized {op_col!r} (e.g. {sample}); refusing to apply "
            "— a NULL/unknown op would silently delete or upsert its key"
        )
    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    keep = (
        latest.filter(F.col(op_col) != delete_op).select(*data_cols)
    )
    untouched = current.join(
        latest.select(*key_cols), key_cols, "left_anti"
    )
    return write_snapshot(
        spark, untouched.unionByName(keep), path, txn=txn
    )


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read DELETE (the Delta DV / Iceberg v2
# position-delete idea on this layer's manifests)
# ---------------------------------------------------------------------------

DV_MAGIC = b"DVS1"


def _register_self_by_value() -> None:
    """Ship this module by value so DV closures unpickle on executors
    whose driver runs from a foreign cwd (the avro_codec mechanism)."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


def dv_encode(positions) -> bytes:
    """Serialize row positions as a DV sidecar payload: magic + count +
    gap-encoded unsigned varints over the sorted positions. Gap encoding
    gives the size behavior that makes roaring bitmaps the table-format
    standard without a bitmap library: a deleted contiguous span costs 1
    byte/row, sparse deletes ~2-5 bytes/row."""
    out = bytearray(DV_MAGIC)

    def uv(n: int) -> None:
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    pos = sorted({int(p) for p in positions})
    if pos and pos[0] < 0:
        raise ValueError("negative row position")
    uv(len(pos))
    prev = -1
    for p in pos:
        uv(p - prev - 1)  # strictly increasing → gaps ≥ 0
        prev = p
    return bytes(out)


def dv_decode(data: bytes) -> list[int]:
    """Strict inverse of :func:`dv_encode` (sorted ascending)."""
    if data[:4] != DV_MAGIC:
        raise ValueError("bad deletion-vector magic")
    pos = 4

    def uv() -> int:
        nonlocal pos
        shift = acc = 0
        while True:
            if pos >= len(data) or shift > 63:
                raise ValueError("truncated deletion vector")
            b = data[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return acc
            shift += 7

    n = uv()
    out: list[int] = []
    prev = -1
    for _ in range(n):
        prev = prev + 1 + uv()
        out.append(prev)
    if pos != len(data):
        raise ValueError("trailing bytes in deletion vector")
    return out


def _dv_rows(spark: SparkSession, path: str, dv_rels: list[str]) -> DataFrame:
    """(_fname, _pos) frame of every deleted position in the given DV
    sidecars, decoded DISTRIBUTED (binaryFile → mapInPandas — the driver
    never holds a bitmap). A sidecar is named ``<data basename>.dv``, so
    the target data file is self-described; basenames are unique across
    the table because Spark part-file names embed a per-write UUID."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("_fname", T.StringType()),
            T.StructField("_pos", T.LongType()),
        ]
    )

    _register_self_by_value()

    def _expand(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                fname = os.path.basename(r["path"])[: -len(".dv")]
                pp = dv_decode(bytes(r["content"]))
                yield pd.DataFrame(
                    {"_fname": [fname] * len(pp), "_pos": pp}
                )

    raw = (
        spark.read.format("binaryFile")
        .load([os.path.join(path, rel) for rel in dv_rels])
        .select("path", "content")
    )
    return raw.mapInPandas(_expand, schema=schema)


def _check_reserved(cols, reserved: tuple) -> None:
    """Refuse tables whose user schema collides with the layer's internal
    row-identity / resolution columns (ADVICE r7: a user column named
    ``_pos`` would make DV-aware reads ambiguous or silently drop it).
    A clear error at the seam beats an AnalysisException deep in a
    window plan."""
    clash = sorted(set(cols) & set(reserved))
    if clash:
        raise ValueError(
            f"column name(s) {clash} are reserved by the snapshot layer "
            f"(internal columns: {sorted(reserved)}); rename them before "
            "using DV deletes or MOR upserts on this table"
        )


def _stats_logical(
    new_files: list[str], path: str, logical_cols: list[str],
    mapping: dict | None,
) -> dict:
    """Footer-harvest per-file stats for a possibly column-mapped table:
    footers speak PHYSICAL names, the manifest speaks LOGICAL — harvest
    physical, store logical (the write_snapshot append discipline, shared
    by every mapped rewrite verb)."""
    if not mapping:
        return collect_file_stats(new_files, path, logical_cols)
    inv = {p: l for l, p in mapping.items()}
    harvested = collect_file_stats(
        new_files, path, [mapping.get(c, c) for c in logical_cols]
    )
    return {
        rel: {inv.get(c, c): v for c, v in per.items()}
        for rel, per in harvested.items()
    }


def _phys_schema(man: dict) -> dict | None:
    """``{physical col: type}`` — the scan schema every read FORCES.

    The committed manifest schema is the table's truth; schema
    INFERENCE samples one parquet footer, which on any mixed-schema
    file set (an additive append next to older files, widened types,
    dropped columns) is nondeterministic in uuid-directory order — a
    DML rewrite planning against a stale sampled footer would silently
    DROP the newer column's values from the files it rewrites (latent
    data-loss bug found by test_drop_column_lifecycle flaking in the
    r12 full-suite run). Forcing the schema makes every read
    deterministic: absent columns null-fill, narrow files upcast in the
    vectorized scan, dropped/tombstoned bytes are never projected."""
    mapping = man.get("column_mapping") or {}
    return {
        mapping.get(c, c): t for c, t in (man.get("schema") or {}).items()
    } or None


def _schema_ddl(phys_schema: dict) -> str:
    return ", ".join(f"`{c}` {t}" for c, t in phys_schema.items())


def _scan_with_pos(
    spark: SparkSession, path: str, rels: list[str], dv_map: dict,
    mapping: dict | None = None, force_schema: dict | None = None,
) -> tuple[DataFrame, list[str]]:
    """Scan manifest files with (_fname, _pos) row-identity columns
    prepended and DV-deleted rows anti-joined out; returns (frame, data
    columns). The anti-join keys on (file basename, row position) — AQE
    broadcasts the DV side when it is small (the common case: deletes
    are a sliver of the table); a huge DV degrades to a shuffled anti
    join, never to a driver-side bitmap. ``mapping`` (logical->physical,
    the manifest's column_mapping) renames the scanned columns to their
    LOGICAL names so DML predicates/assignments speak the reader's
    vocabulary; the returned columns are then logical too. Used by the
    row-level DML probe and rewrite (:func:`_row_dml`), MERGE, purge,
    partition-scoped OPTIMIZE and the DV-aware snapshot reads."""
    import os

    from pyspark.sql import functions as F

    # the whole DV stack keys row identity on (file BASENAME, position):
    # sidecars are named <data basename>.dv and the anti-join matches on
    # _metadata's basename. A manifest with colliding basenames would
    # silently cross-apply vectors — raise instead (the partitioned
    # writer renames its files to keep the invariant; this guard catches
    # hand-built manifests)
    seen: dict[str, str] = {}
    for rel in rels:
        b = os.path.basename(rel)
        if b in seen:
            raise ValueError(
                f"duplicate data-file basename {b!r} in one manifest "
                f"({seen[b]!r} vs {rel!r}): DV row identity would be "
                "ambiguous"
            )
        seen[b] = rel
    reader = spark.read
    if force_schema:
        # widened/dropped columns: the committed schema outranks file
        # footers (Spark's parquet reader upcasts int32->bigint etc. in
        # the vectorized scan; omitted columns are never read)
        reader = reader.schema(_schema_ddl(force_schema))
    df = reader.parquet(*(os.path.join(path, rel) for rel in rels))
    cols = df.columns
    _check_reserved(cols, ("_fname", "_pos"))
    data = df.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        .alias("_fname"),
        F.col("_metadata.row_index").alias("_pos"),
        "*",
    )
    dv_rels = [dv_map[rel] for rel in rels if rel in dv_map]
    if dv_rels:
        data = data.join(
            _dv_rows(spark, path, dv_rels), ["_fname", "_pos"], "left_anti"
        )
    if mapping:
        data = _apply_mapping(data, mapping)
        cols = [
            {p: l for l, p in mapping.items()}.get(c, c) for c in cols
        ]
    return data, cols


def _commit_change(
    path: str,
    base: dict,
    token: str,
    *,
    removed=(),
    dv_set: dict | None = None,
    new_files=(),
    new_values: dict | None = None,
    stats_cols=None,
    schema: dict | None = None,
    txn: tuple | None = None,
    guard: tuple | None = None,
    branch: str | None = None,
    expect_bv: int | None = None,
) -> int:
    """Commit one CHANGE SET derived from ``base`` — the single commit of
    every subset-replacing verb (row-level DELETE/UPDATE in CoW and DV
    mode, the CoW MERGE, purge, small-file compaction, incremental and
    partition-scoped OPTIMIZE). The change set: ``removed`` files leave,
    ``dv_set`` (``{rel: sidecar}``) attaches deletion vectors,
    ``new_files`` join with partition tuples from ``new_values`` (None =
    never pruned) and footer stats for ``stats_cols`` plus every column
    ``base`` already records, ``schema`` (a MERGE's evolved schema)
    replaces the committed one and ``txn`` advances its watermark.
    Everything else — mapping, DVs and stats of surviving files, the MOR
    chain, other txn watermarks — carries.

    The committed manifest is the change applied to ``base``. On a lost
    main race the SAME change applies to the racing head (Iceberg's
    snapshot-isolation validation for row-level DML): if the competitor
    did NOT touch our files — still referenced by the head with
    unchanged DV state — and no table contract moved, the two commits
    are disjoint and BOTH succeed (racing append+delete, or two deletes
    on different files). A shared file, a DV the competitor added on a
    file we rewrite/mask, a schema/constraint/mapping change, a table
    turned MOR, or a vanished file refuses with
    :class:`ConcurrentCommitError` — the verb re-runs against the new
    head. ``guard=(key_cols, src_bounds)`` is MERGE's write-skew rule:
    its NOT-MATCHED inserts assumed the source keys absent from the WHOLE
    table, so the partition spec must not have moved, no kept file may
    have lost its deletion vector, and every file the race added, removed
    or gave a new deletion vector must be provably key-disjoint from the
    source (:func:`_require_key_disjoint`). Branch commits claim
    ``expect_bv`` exactly (no rebase)."""
    mapping = base.get("column_mapping") or {}
    new_stats = None
    if stats_cols is not None or "stats" in base:
        cols = set(stats_cols or ()) | {
            c for per in (base.get("stats") or {}).values() for c in per
        }
        new_stats = _stats_logical(
            list(new_files), path, sorted(cols), mapping
        )
    rm = set(removed)
    touched = rm | set(dv_set or {})
    base_dv = base.get("dv") or {}

    def _apply(head: dict) -> dict:
        files = [f for f in head.get("files") or [] if f not in rm]
        files += list(new_files)
        m = {
            "files": files,
            "schema": schema or head.get("schema") or base.get("schema"),
        }
        if mapping:
            m["column_mapping"] = mapping
        dv = {
            rel: d for rel, d in (head.get("dv") or {}).items()
            if rel not in rm
        }
        dv.update(dv_set or {})
        if dv:
            m["dv"] = dv
        _carry_partition(head, m, list(new_files), new_values)
        if "stats" in head or new_stats is not None:
            keep = set(files)
            m["stats"] = {
                rel: v for rel, v in (head.get("stats") or {}).items()
                if rel in keep
            }
            m["stats"].update(new_stats or {})
        for carry in ("mor", "txn"):
            if carry in head:
                m[carry] = head[carry]
        if txn is not None:
            m["txn"] = {**(head.get("txn") or {}), txn[0]: txn[1]}
        return m

    def _rebase(head: dict) -> dict:
        if head.get("mor"):
            raise ConcurrentCommitError(
                "table became MOR concurrently — re-run the verb"
            )
        for key in ("constraints", "generated", "column_mapping",
                    "widened", "dropped", "schema"):
            if (head.get(key) or None) != (base.get(key) or None):
                raise ConcurrentCommitError(
                    f"table {key} changed concurrently — this commit "
                    "was derived under the old contract; re-run"
                )
        head_files = set(head.get("files") or [])
        head_dv = head.get("dv") or {}
        for rel in touched:
            if rel not in head_files:
                raise ConcurrentCommitError(
                    f"file {rel!r}, which this commit probed, was "
                    "rewritten/removed by a concurrent commit — re-run "
                    "the verb against the new head"
                )
            if head_dv.get(rel) != base_dv.get(rel):
                raise ConcurrentCommitError(
                    f"a concurrent commit changed the deletion vector of "
                    f"{rel!r}, which this commit probed — masking or "
                    "rewriting it now would drop those deletes; re-run "
                    "the verb against the new head"
                )
        if guard is not None:
            _spec_unchanged(head, base)
            key_cols, src_bounds = guard
            if any(
                rel in head_files and rel not in head_dv for rel in base_dv
            ):
                raise ConcurrentCommitError(
                    "a deletion vector vanished concurrently (restore/"
                    "purge) — re-run the merge against the new head"
                )
            base_files = set(base.get("files") or [])
            stats = base.get("stats") or {}
            for gate, rels, st in (
                ("removed concurrently",
                 [f for f in base.get("files") or [] if f not in head_files],
                 stats),
                ("given a deletion vector concurrently",
                 [rel for rel in sorted(head_dv) if rel in head_files
                  and head_dv[rel] != base_dv.get(rel)], stats),
                ("added concurrently",
                 [f for f in head.get("files") or [] if f not in base_files],
                 head.get("stats") or {}),
            ):
                _require_key_disjoint(
                    rels, st, key_cols, src_bounds, gate, path
                )
        return _apply(head)

    return _commit_dml_manifest(
        path, _apply(base), token, branch, expect_bv, rebase=_rebase
    )


def _spec_unchanged(head: dict, base: dict) -> None:
    """Refuse a rebase across a partition spec evolution: the commit's
    new files carry tuples computed under ``base``'s spec."""
    hpart, bpart = head.get("partition") or {}, base.get("partition") or {}
    if (hpart.get("specs"), hpart.get("current")) != (
        bpart.get("specs"), bpart.get("current")
    ):
        raise ConcurrentCommitError(
            "partition spec evolved concurrently — this commit's tuples "
            "were computed under the old spec; re-run the verb"
        )


def _write_dv_sidecars(
    pos_df: DataFrame, path: str, token: str, probe_rels: list,
    dv_map: dict,
) -> list:
    """Distributed deletion-vector sidecar writer shared by the DV
    DELETE and DV UPDATE: one ``applyInPandas`` task per touched file
    unions the file's existing vector with the new positions and writes
    ``data/<token>/<basename>.dv`` atomically (attempt-unique temp +
    ``os.replace`` — ADVICE r7: a speculative/zombie task twin must
    never leave a torn sidecar at the referenced path). Returns the
    collected |touched-files|-row summary (fname, dv_rel, n_new)."""
    import os
    import uuid as _uuid

    import pandas as pd
    from pyspark.sql import types as T

    _register_self_by_value()
    data_dir = os.path.join(path, "data", token)
    os.makedirs(data_dir, exist_ok=True)
    old_dv_abs = {
        os.path.basename(rel): os.path.join(path, dv_map[rel])
        for rel in probe_rels
        if rel in dv_map
    }
    out_schema = T.StructType(
        [
            T.StructField("fname", T.StringType()),
            T.StructField("dv_rel", T.StringType()),
            T.StructField("n_new", T.LongType()),
        ]
    )

    def _write_dv(key, pdf):
        fname = key[0]
        new_pos = [int(p) for p in pdf["_pos"]]
        old: list[int] = []
        oldp = old_dv_abs.get(fname)
        if oldp is not None:
            with open(oldp, "rb") as fh:
                old = dv_decode(fh.read())
        rel = os.path.join("data", token, fname + ".dv")
        final = os.path.join(path, rel)
        tmp = f"{final}.{_uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "wb") as fh:
                fh.write(dv_encode(old + new_pos))
            os.replace(tmp, final)
        except BaseException:
            # ADVICE r8: failed attempts must not orphan temp files
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        return pd.DataFrame(
            {"fname": [fname], "dv_rel": [rel], "n_new": [len(new_pos)]}
        )

    return (
        pos_df.groupBy("_fname")
        .applyInPandas(_write_dv, schema=out_schema)
        .collect()
    )


def _probe_files(
    spark: SparkSession, path: str, man: dict, bounds: dict | None,
    partition_where: dict | None, point: tuple | None,
) -> list[str]:
    """The files a row-level DML or MERGE on a file table must probe.
    Each prune is a CALLER CONTRACT — the predicate can only be TRUE
    inside it — so every other file carries into the new version without
    entering the probe scan at all (zero footer reads):

    * ``partition_where``: only files whose partition tuple matches (a
      one-day delete on a hidden-partitioned table probes one day);
    * ``bounds={col: (lo, hi)}``: only files whose recorded [min, max]
      of every such ``col`` intersects its range (the
      ``read_snapshot_pruned`` rule; a MERGE passes its source's key
      range);
    * ``point=(col, values)``: only files whose bloom sidecar admits a
      value — the bounds' membership twin for hash-ordered keys.

    Files without a tuple, stats or index always probe (conservative)."""
    rels = list(man["files"])
    if partition_where is not None and man.get("partition"):
        ks = set(
            _partition_keep(
                man["partition"], man["files"], partition_where, spark
            )
        )
        rels = [rel for rel in rels if rel in ks]
    stats = man.get("stats") or {}
    for col, (lo, hi) in (bounds or {}).items():
        elo, ehi = _stat_encode(lo), _stat_encode(hi)
        rels = [
            rel for rel in rels
            if (s_ := stats.get(rel, {}).get(col)) is None
            or not (s_[1] < elo or s_[0] > ehi)
        ]
    if point is not None:
        rels = _bloom_point_keep(
            spark, path, man, point[0], list(point[1]), rels
        )
    return rels


def _mor_probe(
    spark: SparkSession, path: str, man: dict, bounds: dict | None,
    partition_where: dict | None, point: tuple | None, verb: str,
) -> tuple[dict, int]:
    """The MOR twin of :func:`_probe_files`: prune the base files AND the
    delta chain under the same caller contracts; returns (manifest to
    resolve, files probed). ``bounds`` and ``point`` are sound only on
    MOR key columns — a key's every commit then lives in the surviving
    files, so the latest-wins winner over them is the true winner;
    non-key stats could let a superseded row resurrect."""
    mor = man["mor"]
    read_man = man
    n_kept = len(man["files"]) + sum(len(g) for g in mor["deltas"])
    if partition_where is not None:
        read_man, n_kept, _ = _mor_tuple_pruned_manifest(
            read_man, partition_where, spark
        )
    if bounds is not None:
        for col in bounds:
            if col not in mor["key_cols"]:
                raise ValueError(
                    f"MOR {verb} prune column {col!r} must be a MOR key "
                    f"column {mor['key_cols']} — non-key stats can't "
                    "prune a chain soundly (a superseded row would "
                    "resurrect as winner)"
                )
        read_man, n_kept, _ = _mor_pruned_manifest(read_man, bounds)
    if point is not None:
        read_man, n_kept, _ = _mor_bloom_point_pruned(
            spark, path, read_man, point[0], list(point[1])
        )
    return read_man, n_kept


def _assign(
    df: DataFrame, cols: list[str], assignments: dict, man: dict,
    hit=None,
) -> DataFrame:
    """UPDATE's one projection: every RHS sees the PRE-update values (one
    select over the original columns, so ``{"a": "b", "b": "a"}`` swaps),
    each new value is cast to the column's committed type, then generated
    columns are computed/validated and CHECK constraints enforced on the
    rows about to be written. ``hit`` (a Column) limits the assignment to
    matching rows; None assigns every row of ``df``."""
    from pyspark.sql import functions as F

    schema = man["schema"]
    proj = []
    for c in cols:
        if c in assignments:
            v = assignments[c]
            v = (F.expr(v) if isinstance(v, str) else v).cast(schema[c])
            if hit is not None:
                v = F.when(hit, v).otherwise(F.col(c))
            proj.append(v.alias(c))
        else:
            proj.append(F.col(c))
    out = df.select(*proj)
    if man.get("generated"):
        out = _apply_generated(
            out, man["generated"], schema, "update_where_snapshot"
        )
    if man.get("constraints"):
        _enforce_constraints(
            out, man["constraints"], "update_where_snapshot"
        )
    return out


def _row_dml(
    spark: SparkSession, path: str, assignments: dict | None, predicate,
    compression: str, prune: tuple | None, mode: str,
    partition_where: dict | None, point: tuple | None,
    branch: str | None,
) -> dict:
    """The row-level DML verb behind :func:`delete_where_snapshot` and
    :func:`update_where_snapshot`. A DELETE (``assignments is None``) is
    the UPDATE that writes no new image of a matched row. One probe, one
    rewrite, one commit per write strategy:

    * CoW — one DV-aware probe scan aggregates matches to their files;
      only those files rewrite (survivors, or every row with the
      assignment applied to matches) and commit through
      :func:`_commit_change` replacing them;
    * DV — matched positions land in deletion-vector sidecars and, for
      an UPDATE, the matched rows' new images append as new files;
    * MOR — the predicate is judged against the RESOLVED view and one
      delta group lands: tombstones (key, seq, op='D') for a DELETE,
      full images for an UPDATE; zero base files rewritten. Reference:
      the importer's long-lived upsert loop
      (handler/incoming_instance_handler.go:285-303) must accept deletes
      and updates.

    Nothing matched → nothing committed, ``version`` is the head."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    delete = assignments is None
    verb = "delete" if delete else "update"
    if mode not in ("cow", "dv"):
        raise ValueError(f"unknown {verb} mode {mode!r}")
    man, head_id, expect_bv = _dml_head(path, branch)
    schema, mor = man["schema"], man.get("mor")
    if mor:
        if not delete and mor.get("merge") in ("partial", "aggregate"):
            raise ValueError(
                "UPDATE on a partial/aggregate-merge MOR table is not "
                "supported: a full image whose NULL genuinely means NULL "
                "would read back as 'keep prior value' and resurrect "
                "older data — send partial upserts (and tombstone "
                "deletes), or compact_mor (major) to materialize first"
            )
        _check_reserved(schema, (MOR_OP_COL,))
    if not delete:
        missing = [c for c in assignments if c not in schema]
        if missing:
            raise ValueError(
                f"UPDATE cannot assign non-existent columns {missing} — "
                "new columns arrive via a write commit (schema "
                "evolution), not UPDATE"
            )

    def result(version=head_id, rows=0, probed=0, rewritten=0, written=0):
        out = {
            "version": version,
            "rows_deleted" if delete else "rows_updated": rows,
            "files_rewritten": rewritten,
            "files_kept": len(man["files"]) - rewritten,
            "files_probed": probed,
        }
        if mor:
            out["delta_files_written"] = written
        elif delete or mode == "dv":
            out["dv_files_written"] = written
        return out

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(pred, F.lit(False))  # NULL predicate = no match
    token = uuid.uuid4().hex[:12]
    bounds = None if prune is None else {prune[0]: prune[1:]}
    if mor:
        read_man, n_probed = _mor_probe(
            spark, path, man, bounds, partition_where, point, verb
        )
        if not read_man["files"] and not any(read_man["mor"]["deltas"]):
            return result(probed=n_probed)
        matched = _resolve_mor(spark, path, read_man).filter(hit)
        if delete:
            rows = matched.select(
                *mor["key_cols"], F.col(mor["seq_col"]),
                F.lit(MOR_DELETE_OP).alias(MOR_OP_COL),
            )
        else:
            rows = _assign(matched, list(schema), assignments, man)
        # routed write: real partition tuples on a hidden-partitioned
        # MOR table (mapping applied physically inside)
        new_files, new_values = _write_delta_group_routed(
            rows, path, man, token, compression
        )
        if not new_files:
            shutil.rmtree(os.path.join(path, "data", token),
                          ignore_errors=True)
            return result(probed=n_probed)
        import pyarrow.parquet as pq

        n_rows = sum(
            pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
            for rel in new_files
        )
        version = _commit_delta_group(
            path, man, new_files, token, new_values=new_values,
            branch=branch, expect_bv=expect_bv,
        )
        return result(version, n_rows, n_probed, written=len(new_files))

    # column-mapped tables: scan logical (predicate and assignments speak
    # logical names), write physical — a rename stays metadata-only
    # through DML (Delta column-mapping parity)
    mapping = man.get("column_mapping") or {}
    dv_map = man.get("dv") or {}
    probe_rels = _probe_files(
        spark, path, man, bounds, partition_where, point
    )
    if not probe_rels:  # pruning proves no file can hold a matching row
        return result()
    data, cols = _scan_with_pos(
        spark, path, probe_rels, dv_map, mapping, _phys_schema(man)
    )
    if mode == "dv":
        matched = data.filter(pred)
        summary = _write_dv_sidecars(
            matched.select("_fname", "_pos"), path, token, probe_rels,
            dv_map,
        )
        if not summary:
            shutil.rmtree(os.path.join(path, "data", token),
                          ignore_errors=True)
            return result(probed=len(probe_rels))
        new_files, new_values = [], None
        if not delete:
            # the matched rows' UPDATED images append as new files (one
            # hive-routed write — real tuples on partitioned tables)
            new_files, new_values = _route_rewrite(
                _assign(matched, cols, assignments, man), path, man,
                token + "u", compression, mapping,
            )
        rel_of = {os.path.basename(rel): rel for rel in man["files"]}
        version = _commit_change(
            path, man, token,
            dv_set={rel_of[r["fname"]]: r["dv_rel"] for r in summary},
            new_files=new_files, new_values=new_values,
            branch=branch, expect_bv=expect_bv,
        )
        return result(
            version, sum(r["n_new"] for r in summary), len(probe_rels),
            written=len(summary),
        )

    hits = (
        data.filter(pred)
        .groupBy("_fname")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    touched = {r["_fname"]: r["n"] for r in hits}
    if not touched:
        return result(probed=len(probe_rels))
    doomed = [rel for rel in probe_rels if os.path.basename(rel) in touched]
    # rewrite through the DV-aware scan: a CoW rewrite of a DV-carrying
    # file MATERIALIZES its existing deletes too (the vector dies with
    # the file it describes)
    sdata, scols = _scan_with_pos(
        spark, path, doomed, dv_map, mapping, _phys_schema(man)
    )
    if delete:
        rows = sdata.filter(~hit).select(*scols)
    else:
        rows = _assign(sdata, scols, assignments, man, hit)
    new_files, new_values = _route_rewrite(
        rows, path, man, token, compression, mapping
    )
    version = _commit_change(
        path, man, token, removed=doomed, new_files=new_files,
        new_values=new_values, branch=branch, expect_bv=expect_bv,
    )
    return result(
        version, sum(touched.values()), len(probe_rels),
        rewritten=len(doomed),
    )


def delete_where_snapshot(
    spark: SparkSession,
    path: str,
    predicate,
    compression: str = PARQUET_CODEC,
    prune: tuple | None = None,
    mode: str = "cow",
    partition_where: dict | None = None,
    point: tuple | None = None,
    branch: str | None = None,
) -> dict:
    """Copy-on-write DELETE — the table-format verb the layer was missing
    (write/merge/optimize/changes/vacuum exist): remove every row where
    ``predicate`` is TRUE (string or Column; NULL predicate rows are KEPT,
    SQL DELETE semantics) and commit the result as a new version.

    The scale property is FILE SKIPPING on the write side: one pass scans
    the current snapshot with the predicate pushed into the parquet scan
    and aggregates matching rows to their ``_metadata.file_path`` — at
    most |files| (path, match-count) rows reach the driver. Files with no
    match are carried into the new manifest UNTOUCHED (no read of their
    data pages beyond footer-level row-group pruning, no rewrite, no
    shuffle); only files that actually contain doomed rows are rewritten
    without them. A delete matching nothing commits nothing. Readers of
    prior versions are unaffected; superseded files are reclaimed by
    :func:`vacuum_snapshots`; per-file stats, when the table carries
    them, follow the files — kept files keep their recorded min/max,
    rewritten files get fresh footer-harvested stats.

    ``prune=(col, lo, hi)``: when the table carries manifest stats for
    ``col`` and the caller guarantees the predicate can only be TRUE for
    rows with ``col`` in [lo, hi] (the same caller contract as
    ``read_snapshot_pruned``), files whose recorded [min, max] cannot
    intersect the range are carried WITHOUT ENTERING THE PROBE SCAN at
    all — zero footer reads for them, the delete-side twin of read-side
    file skipping. Files lacking stats for ``col`` are always probed.
    ``partition_where`` (r13) is the partition-tuple twin on
    hidden-partitioned tables: the caller guarantees the predicate is
    FALSE outside the matching partitions, and only their files enter
    the probe (no-tuple files always probe) — a one-day delete probes
    one day's files, not the table.

    ``mode="dv"``: MERGE-ON-READ delete via deletion vectors (Delta DV /
    Iceberg v2 position deletes): NO data file is touched at all —
    matched rows' positions are written to per-file ``.dv`` sidecars
    (gap-varint bitmaps, built DISTRIBUTED: one ``applyInPandas`` task
    per touched file unions the file's existing vector and writes the
    new sidecar to the shared filesystem; the driver sees a
    |touched-files|-row summary) and the new manifest maps data files to
    their vectors. Every snapshot reader (``read_snapshot``,
    ``read_snapshot_pruned``, and the verbs built on them) anti-joins
    the vectors at read time; OPTIMIZE and any copy-on-write rewrite
    MATERIALIZE the deletes and drop the vectors. The probe scan is
    DV-aware in both modes, so re-deleting already-deleted rows is a
    no-op and counts are exact. The trade is the table-format classic:
    COW pays at delete time and reads clean files; DV deletes in
    O(matched rows) regardless of file sizes and pays a (usually
    broadcast) anti-join per read. Manifest stats become upper bounds
    under DVs — pruning stays conservative-correct.

    ``branch`` (r14 — DML-complete write-audit-publish): run the SAME
    delete against a branch head instead of main; the result lands as
    the next branch commit (``version`` is then the branch-local
    number), main is untouched until :func:`fast_forward`, and a racing
    branch writer refuses (single-claim).

    On a MOR table (either ``mode``) the matched keys land as ONE delta
    group of tombstones judged against the resolved view — zero base
    files rewritten, on a branch the group stages on the branch chain.

    Returns ``{"version", "rows_deleted", "files_rewritten",
    "files_kept", "files_probed", "dv_files_written"}`` (``version`` is
    the pre-existing latest when the delete was a no-op;
    ``files_probed`` counts the files the match scan actually read; a
    MOR table reports ``delta_files_written`` instead of
    ``dv_files_written``)."""
    return _row_dml(
        spark, path, None, predicate, compression, prune, mode,
        partition_where, point, branch,
    )


def _source_key_profile(
    source: DataFrame, key_cols: list[str]
) -> tuple[int, int, dict]:
    """ONE aggregate job over the (already pinned) MERGE source: row
    count, distinct-key count, and per-key-column [min, max]. Run once
    by the MERGE verb for every write strategy — replaces a duplicate-key
    check job plus one bounds job per key column (optimization guide
    §1.2: fewer passes; the source's lineage is an arbitrary caller
    query, so every extra action re-ran it). Distinctness is over a
    STRUCT of the key columns, which groups NULL keys together exactly
    like the groupBy the dup check used to run."""
    from pyspark.sql import functions as F

    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(F.struct(*key_cols)).alias("_nk"),
    ]
    for i, kc in enumerate(key_cols):
        aggs.append(F.min(F.col(kc)).alias(f"_lo{i}"))
        aggs.append(F.max(F.col(kc)).alias(f"_hi{i}"))
    row = source.agg(*aggs).first()
    bounds = {}
    for i, kc in enumerate(key_cols):
        if row[f"_lo{i}"] is not None:
            bounds[kc] = (row[f"_lo{i}"], row[f"_hi{i}"])
    return row["_n"], row["_nk"], bounds


def _merge_evolution_cols(
    man: dict, source: DataFrame, key_cols: list[str],
    schema_evolution: bool,
) -> dict[str, str]:
    """MERGE schema evolution (r14, r13 verdict #7 — Delta's ``WHEN NOT
    MATCHED ... withSchemaEvolution``): with ``schema_evolution=True``,
    source-only columns extend the committed schema ADDITIVELY in the
    same commit — NOT-MATCHED inserts carry their values, existing rows
    resolve as typed NULLs (the q65/q86b forced-schema discipline: kept
    files simply lack the column and the manifest schema outranks
    footers). Returns {new col: simpleString type}; empty without the
    opt-in. Refuses: reserved physical names, names whose physical
    twins are DROP tombstones (stale-byte resurrection), and all-NULL
    source columns (no inferable type — cast explicitly)."""
    if not schema_evolution:
        return {}
    schema = man.get("schema") or {}
    mapping = man.get("column_mapping") or {}
    dropped = set(man.get("dropped") or [])
    new_cols: dict[str, str] = {}
    for f in source.schema:
        c, t = f.name, f.dataType.simpleString()
        if c in schema or c in key_cols:
            continue
        if t == "void":
            raise ValueError(
                f"MERGE schema evolution cannot infer a type for "
                f"all-NULL source column {c!r} — cast it explicitly"
            )
        if mapping.get(c, c) in dropped:
            raise ValueError(
                f"MERGE schema evolution: column {c!r} reuses a DROPPED "
                "column name whose bytes still live in old files — "
                "rewrite the table before reusing the name"
            )
        new_cols[c] = t
    if new_cols:
        _check_reserved(
            new_cols, ("_fname", "_pos", "_ci", "_rn", MOR_OP_COL,
                       "_t", "_s")
        )
    return new_cols


def merge_into_snapshot(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    update_set: dict | None = None,
    delete_condition=None,
    insert: bool = True,
    insert_values: dict | None = None,
    compression: str = PARQUET_CODEC,
    txn: tuple[str, int] | None = None,
    partition_where: dict | None = None,
    schema_evolution: bool = False,
    branch: str | None = None,
) -> int:
    """SQL-style conditional MERGE INTO (Delta/Iceberg's most-used DML
    verb — the clause-driven twin of :func:`merge_apply_changes`'s
    op-column feed):

    * WHEN MATCHED [AND ``delete_condition``] THEN DELETE — the
      condition may reference target columns by name and source columns
      as ``src_<col>``;
    * WHEN MATCHED THEN UPDATE SET ``update_set`` (``{target col:
      expr}``, same name scoping; omitted target columns carry);
    * WHEN NOT MATCHED THEN INSERT (``insert=True``; values from the
      source's same-named columns, overridable per column via
      ``insert_values``, absent columns NULL).

    Clause order matches the SQL standard: a matched row tests DELETE
    first, then UPDATE. Source rows must be key-unique — duplicate
    source keys make MERGE ambiguous and raise up front (the classic
    "multiple source rows matched" error), costing one aggregate over
    the SOURCE only.

    Scale shape (r12 — write-side FILE SKIPPING, the delete/update
    discipline extended to the flagship DML verb; pre-r12 this was a
    full-table rewrite per merge): one DV-aware probe scan joins the
    target's keys against the compacted source and aggregates hits to
    their files — only files that actually CONTAIN a matched key are
    rewritten (one key-partitioned full-outer join of the touched
    files × source; AQE broadcasts the source when it is a sliver —
    the nightly-CDC case); NOT-MATCHED inserts ride the same output
    (a source key matching nothing in the whole table matches nothing
    in the touched files either, by probe construction). Every other
    file carries into the new version untouched — data pages unread,
    stats/partition tuples/DVs intact — so cost is O(table key scan +
    touched data + |source|), never a table rewrite.
    ``partition_where`` (r13) prunes the probe by partition tuples —
    contract STRONGER than delete/update's: every source KEY must be
    confined to the matching partitions (else a NOT-MATCHED insert
    could duplicate a key living in an excluded file); the fit is a
    partition-aligned merge key (per-region/per-day CDC batches). On a
    hidden-partitioned table the rewrite routes through the hive
    writer (real tuples — pruning holds immediately after MERGE); on a
    column-mapped table clauses speak logical names and files keep the
    one physical schema. Committed column types are preserved by
    casting every assignment/insert to the target type; the result
    lands as a new snapshot version (snapshot isolation, prior
    versions readable). A merge that matches nothing and inserts
    nothing commits nothing — or, with ``txn``, only its watermark, so
    a redelivery is still skipped. On a MOR table (r13) the merge lands
    as ONE delta group — tombstones + images, zero base rewrites (the
    MOR strategy below). ``txn`` gives at-least-once writers the
    manifest idempotence watermark. ``branch`` (r14) stages the merge
    as the next commit of a branch instead of main — the
    write-audit-publish flow for the flagship CDC verb, on CoW, DV and
    MOR tables alike (a MOR group stages on the branch chain); returns
    the branch-local commit number, racing branch writers refuse.
    Returns the new version.

    One front half (clause and key checks, the ``txn`` skip, the pinned
    source's key profile), one probe prune and one clause projection
    feed one of two write strategies:

    * CoW/DV — only files holding a source key rewrite, every row of
      them through the clause projection, and commit through
      :func:`_commit_change` under MERGE's key-range guard;
    * MOR (r12 verdict #1) — the source meets the RESOLVED view of its
      keys and ONE delta group lands: updated and inserted images (op
      NULL) and delete tombstones (op='D'). Zero base files rewrite and
      untouched keys are never re-materialized (they keep winning from
      older commits, the property a CoW merge cannot have). It commits
      through :func:`_commit_delta_group`; a racing group must leave
      this merge's chain prefix intact and be key-disjoint from the
      source."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    man, head_id, expect_bv = _dml_head(path, branch)
    mor = man.get("mor")
    if mor:
        if mor.get("merge") in ("partial", "aggregate"):
            raise ValueError(
                "MERGE INTO on a partial/aggregate-merge MOR table is not "
                "supported: a full image whose NULL genuinely means NULL "
                "would read back as 'keep prior value' and resurrect "
                "older data — send partial upserts (and tombstone "
                "deletes), or compact_mor (major) to materialize first"
            )
        _check_reserved(man["schema"], (MOR_OP_COL,))
        if mor["key_cols"] != list(key_cols):
            raise ValueError(
                f"MERGE INTO a MOR table must merge on its MOR key columns "
                f"{mor['key_cols']} (got {list(key_cols)}) — tombstones "
                "and images resolve per MOR key"
            )
    if update_set is None and delete_condition is None and not insert:
        raise ValueError("MERGE INTO with no clauses is a no-op — pass "
                         "update_set, delete_condition, and/or insert")
    new_cols = _merge_evolution_cols(
        man, source, key_cols, schema_evolution
    )
    schema = {**man["schema"], **new_cols}
    bad = [c for c in (update_set or {}) if c not in schema]
    if bad:
        raise ValueError(
            f"UPDATE SET assigns non-existent target columns {bad}"
        )
    missing_keys = [c for c in key_cols if c not in source.columns]
    if missing_keys:
        raise ValueError(f"source lacks merge key columns {missing_keys}")
    if txn is not None and txn[1] <= (man.get("txn") or {}).get(txn[0], -1):
        return head_id  # redelivered batch: idempotent skip
    # pin the (possibly non-deterministic) source FIRST: the duplicate
    # check, key bounds, probe and write must all see the SAME rows —
    # and pinning before the checks means the source's lineage (an
    # arbitrary caller query, often a full MOR resolve) is computed
    # once, not once per check
    source = source.localCheckpoint(eager=True)
    n_src, n_src_keys, bounds = _source_key_profile(source, key_cols)
    if n_src > n_src_keys:
        raise ValueError(
            "MERGE INTO source has duplicate keys — multiple source rows "
            "would match one target row (compact the source per key first)"
        )
    # the source key range of EVERY key column: it prunes the probe here
    # and validates a racing commit in the rebase
    src_bounds = {
        kc: (_stat_encode(lo), _stat_encode(hi))
        for kc, (lo, hi) in bounds.items()
    }
    token = uuid.uuid4().hex[:12]

    def noop() -> int:  # nothing written: only the watermark advances
        if txn is None:
            return head_id
        return _commit_txn(path, man, token, txn, branch, expect_bv)

    # PRUNE the probe. partition_where (r13) is a caller contract
    # STRONGER than delete/update's: every source KEY must be confined to
    # the matching partitions, else a NOT-MATCHED insert could duplicate
    # a key living in an excluded file (the fit is a partition-aligned
    # merge key: per-region/per-day CDC batches). The source's key range
    # prunes automatically — a file (or chain file) whose recorded
    # [min, max] on a key column misses it PROVABLY holds no matched key.
    if mor:
        read_man, _ = _mor_probe(
            spark, path, man, bounds, partition_where, None, "merge"
        )
        groups = [read_man["files"], *read_man["mor"]["deltas"]]
    else:
        groups = [_probe_files(
            spark, path, man, bounds, partition_where, None
        )]
    # r14: BLOOM-probe pruning — the high-cardinality complement of the
    # range prune. On a hash-ordered key (UUIDs) every file spans the
    # whole key range and stats prune NOTHING; a per-file bloom sidecar
    # (index_bloom_snapshot) instead proves "contains no source key" file
    # by file, fully distributed (_bloom_admitted_files — source keys
    # never reach the driver). Indexed files the filter rejects for
    # EVERY source key skip the probe outright — no false negatives, so
    # they provably carry unchanged (and on MOR cannot change a matched
    # key's winner); unindexed files (appends since the last refresh)
    # always probe. NULL source keys match no target row.
    for kc in key_cols:
        if not any(groups):
            break
        bmeta = _snap_bloom_meta(path, kc, man)
        if bmeta is None:
            continue
        adm = _bloom_admitted_files(
            spark, path, kc, bmeta,
            source.select(F.col(kc).cast(bmeta["type"]).alias("_v"))
            .where(F.col("_v").isNotNull())
            .distinct(),
        )
        groups = [
            [rel for rel in g if rel not in bmeta["files"] or rel in adm]
            for g in groups
        ]
    src_keys = source.select(*key_cols).distinct()
    mapping = man.get("column_mapping") or {}
    tgt = None
    if mor:
        if any(groups):
            tgt = _resolve_mor(spark, path, {
                **read_man, "files": groups[0],
                "mor": {**read_man["mor"], "deltas": groups[1:]},
            })
    else:
        # PROBE: which files contain a source key — at most |files| rows
        # reach the driver; a touched file rewrites whole, key-free
        # files carry untouched (data pages unread, stats, tuples, DVs
        # intact). A source key matching nothing in the whole table
        # matches nothing in the touched files either, so NOT-MATCHED
        # inserts ride the same output.
        dv_map, force = man.get("dv") or {}, _phys_schema(man)
        hit = set()
        if groups[0]:
            data, _ = _scan_with_pos(
                spark, path, groups[0], dv_map, mapping, force
            )
            hit = {
                r["_fname"] for r in data.select("_fname", *key_cols)
                .join(src_keys, key_cols).select("_fname").distinct()
                .collect()
            }
        touched = [
            rel for rel in man["files"] if os.path.basename(rel) in hit
        ]
        if touched:
            tdata, tcols = _scan_with_pos(
                spark, path, touched, dv_map, mapping, force
            )
            tgt = tdata.select(*tcols)
        elif not insert or n_src == 0:
            return noop()  # nothing matched, nothing to insert
    if tgt is None:
        tgt = spark.createDataFrame([], _schema_ddl(schema))
    if mor:
        # only matched keys can contribute delta rows: shrink the target
        # side to the source's keys before the clause join
        tgt = tgt.join(src_keys, key_cols, "left_semi")

    src = source.withColumnsRenamed(
        {c: f"src_{c}" for c in source.columns if c not in key_cols}
    )
    j = (
        tgt.withColumn("_t", F.lit(True))
        .join(src.withColumn("_s", F.lit(True)), key_cols, "full_outer")
    )
    matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
    s_only = F.col("_t").isNull() & F.col("_s").isNotNull()

    def _expr(v):
        return F.expr(v) if isinstance(v, str) else v

    doomed = F.lit(False)
    if delete_condition is not None:
        doomed = matched & F.coalesce(_expr(delete_condition), F.lit(False))
    if mor:
        # a matched row becomes a delta row only when a clause REWRITES
        # it — untouched keys ride the older commits for free
        emit = doomed
        if insert:
            emit = emit | s_only
        if update_set:
            emit = emit | matched
        j = j.filter(emit)
    else:  # a rewritten file keeps every row no clause removes
        if delete_condition is not None:
            j = j.filter(~doomed)
        if not insert:
            j = j.filter(~s_only)
    out_cols = []
    src_names = set(src.columns)
    for c, t in schema.items():
        # cast EVERYTHING to the committed type — including key columns:
        # the full-outer join coerces a key to the WIDER of target/source
        # types, and writing that uncast would land files whose physical
        # type contradicts the manifest schema (caught by the mapped-DML
        # hypothesis model). A lossy source key is the caller's contract
        # breach, same as every other cast here. A schema-evolution
        # column is absent from every target row: typed NULL unless
        # update_set assigns or an insert's src_<c> supplies it.
        val = F.lit(None).cast(t) if c in new_cols else F.col(c).cast(t)
        if update_set and c in update_set:
            val = F.when(
                matched & ~doomed, _expr(update_set[c]).cast(t)
            ).otherwise(val)
        if insert:
            if insert_values and c in insert_values:
                ins = _expr(insert_values[c]).cast(t)
            elif c in key_cols:
                ins = F.col(c).cast(t)
            elif f"src_{c}" in src_names:
                ins = F.col(f"src_{c}").cast(t)
            else:
                ins = F.lit(None).cast(t)
            val = F.when(s_only, ins).otherwise(val)
        if mor and c not in key_cols and c != mor["seq_col"]:
            # tombstones carry keys + seq only; masked columns NULL
            val = F.when(doomed, F.lit(None).cast(t)).otherwise(val)
        out_cols.append(val.alias(c))
    op = F.col(MOR_OP_COL)
    if mor:
        out_cols.append(
            F.when(doomed, F.lit(MOR_DELETE_OP))
            .otherwise(F.lit(None).cast("string")).alias(MOR_OP_COL)
        )
    out = j.select(*out_cols)
    if man.get("generated") or man.get("constraints"):
        # the table contract binds the images; tombstones carry no values
        live = out.filter(op.isNull()).drop(MOR_OP_COL) if mor else out
        if man.get("generated"):
            live = _apply_generated(
                live, man["generated"], schema, "merge_into_snapshot"
            )
        if man.get("constraints"):
            _enforce_constraints(
                live, man["constraints"], "merge_into_snapshot"
            )
        out = live if not mor else live.withColumn(
            MOR_OP_COL, F.lit(None).cast("string")
        ).unionByName(out.filter(op == MOR_DELETE_OP))
    if not mor:
        new_files, new_values = _route_rewrite(
            out, path, man, token, compression, mapping
        )
        return _commit_change(
            path, man, token, removed=touched, new_files=new_files,
            new_values=new_values, schema=schema, txn=txn,
            guard=(key_cols, src_bounds), branch=branch,
            expect_bv=expect_bv,
        )
    new_files, new_values = _write_delta_group_routed(
        out, path, man, token, compression
    )
    if not new_files:  # matched nothing, inserted nothing
        shutil.rmtree(os.path.join(path, "data", token), ignore_errors=True)
        return noop()

    def _check(head: dict) -> None:
        """Key-range-validated MOR MERGE rebase (r13): a racing delta
        group whose key stats provably cannot contain any source key
        leaves this merge's matched set and images intact — the group
        re-appends onto the winner's chain and both succeed (N streaming
        CDC writers merging into one table no longer serialize by
        failure/retry). A rewritten chain or any other drift refuses."""
        if (head.get("schema") or None) != (man.get("schema") or None):
            raise ConcurrentCommitError(
                "table schema changed concurrently — re-run the merge"
            )
        if head.get("dv"):
            raise ConcurrentCommitError(
                "deletion vectors appeared concurrently — re-run the merge"
            )
        prefix = mor["deltas"]
        hdeltas = head["mor"]["deltas"]
        if hdeltas[: len(prefix)] != prefix:
            raise ConcurrentCommitError(
                "delta chain was rewritten concurrently (minor "
                "compaction?) — re-run the merge"
            )
        _require_key_disjoint(
            [rel for grp in hdeltas[len(prefix):] for rel in grp],
            head.get("stats") or {}, key_cols, src_bounds,
            "added concurrently", path,
        )

    return _commit_delta_group(
        path, {**man, "schema": schema}, new_files, token,
        new_values=new_values, txn=txn, check=_check, branch=branch,
        expect_bv=expect_bv,
    )


def update_where_snapshot(
    spark: SparkSession,
    path: str,
    assignments: dict,
    predicate,
    compression: str = PARQUET_CODEC,
    prune: tuple | None = None,
    mode: str = "cow",
    partition_where: dict | None = None,
    point: tuple | None = None,
    branch: str | None = None,
) -> dict:
    """Copy-on-write UPDATE — the last member of the DML triad
    (:func:`write_snapshot` append / :func:`delete_where_snapshot` /
    :func:`merge_apply_changes`): set ``assignments`` (``{col: new-value
    Column or SQL string}``) on every row where ``predicate`` is TRUE
    and commit the result as a new version. SQL UPDATE semantics
    throughout: NULL-predicate rows are untouched, and every
    right-hand side sees the PRE-update values (all assignments are
    computed in one projection over the original columns, so
    ``{"a": "b", "b": "a"}`` swaps).

    Same write-side FILE SKIPPING as the COW delete: one DV-aware probe
    scan aggregates matching rows to their files (at most |files|
    summary rows reach the driver); files with no match carry into the
    new manifest untouched — data pages unread, stats kept — and only
    matching files rewrite. A rewrite of a DV-carrying file materializes
    its deletes (the vector dies with the file it describes). An update
    matching nothing commits nothing. ``prune=(col, lo, hi)`` skips the
    probe itself for files whose recorded stats can't intersect — the
    same caller contract as ``read_snapshot_pruned``.

    ``mode="dv"`` (r12 — Delta's DV-backed UPDATE): matched rows'
    positions land in per-file deletion vectors and their UPDATED images
    APPEND as new files — NO existing file rewrites, so the write costs
    O(matched rows) regardless of how big the touched files are (the
    UPDATE-side twin of the DV delete; a wide-file table with pinpoint
    updates pays for the pinpoints, not the files). Readers resolve via
    the usual DV anti-join; OPTIMIZE / purge materialize. Same
    trade as DV deletes: cheap writes, a (usually broadcast) anti-join
    tax per read, stats on DV-carrying files become upper bounds.

    ``partition_where`` (r13): partition-tuple probe pruning, the
    delete verb's contract — only matching partitions' files enter the
    probe scan.

    Guard rails: an assigned column must already exist (UPDATE never
    adds columns — that's schema evolution via a write), its committed
    type is preserved by casting the new value to it, and on a MOR
    table the matched rows' updated images land as ONE upsert delta
    group (partial/aggregate-merge MOR tables refuse). ``branch`` (r14):
    stage the update on a branch head (the delete verb's
    write-audit-publish contract — branch-local commit number returned,
    main untouched until fast_forward). Returns ``{"version",
    "rows_updated", "files_rewritten", "files_kept", "files_probed"}``
    (plus ``"dv_files_written"`` in DV mode, ``"delta_files_written"``
    on a MOR table)."""
    return _row_dml(
        spark, path, assignments, predicate, compression, prune, mode,
        partition_where, point, branch,
    )


def _dv_count(dv_abs: str) -> int:
    """Deleted-position count of a DV sidecar, from the header alone
    (magic + one varint) — no full decode, no position list in memory."""
    with open(dv_abs, "rb") as fh:
        head = fh.read(14)  # magic + worst-case 10-byte varint
    if head[:4] != DV_MAGIC:
        raise ValueError("bad deletion-vector magic")
    acc = shift = 0
    for b in head[4:]:
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc
        shift += 7
    raise ValueError("truncated deletion-vector header")


def purge_deletion_vectors(
    spark: SparkSession,
    path: str,
    min_density: float = 0.0,
    compression: str = PARQUET_CODEC,
) -> dict:
    """REORG … APPLY (PURGE): the merge-on-read MAINTENANCE verb.

    DV deletes (``delete_where_snapshot(..., mode="dv")``) are O(matched
    rows) at write time but tax EVERY subsequent read with the anti-join,
    and the tax grows with vector density. This verb pays the debt down:
    every data file whose deletion vector covers **at least**
    ``min_density`` of its rows is rewritten WITHOUT its deleted rows
    (one Spark job for all victims together — purge doubles as
    compaction of the rewritten set) and its sidecar is dropped from the
    manifest; files below the bar keep their vectors, files without
    vectors carry forward untouched. ``min_density=0.0`` (default)
    materializes every vector — the full REORG.

    The decision inputs are metadata-only: vector cardinality from the
    sidecar HEADER (:func:`_dv_count` — the position list is never
    decoded on the driver) and row counts from parquet footers, a
    per-file metadata read on the driver exactly like the layer's other
    manifest verbs (manifests are driver-scale by design; the row data
    of victims is read and rewritten distributed).

    Returns ``{"version", "files_purged", "files_kept", "dvs_kept",
    "rows_materialized"}`` — ``version`` is the pre-existing latest when
    nothing crossed the bar (no empty commits), ``rows_materialized``
    counts deleted rows physically dropped. Prior versions stay
    readable; superseded files and sidecars are reclaimed by
    :func:`vacuum_snapshots`."""
    import os
    import uuid

    import pyarrow.parquet as pq

    man, head, _ = _dml_head(path, None)
    mapping = man.get("column_mapping") or {}  # scan logical, write physical
    dv_map = man.get("dv") or {}
    victims: list[str] = []
    rows_materialized = 0
    for rel, dv_rel in sorted(dv_map.items()):
        n_del = _dv_count(os.path.join(path, dv_rel))
        n_rows = pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
        if n_rows == 0 or n_del / n_rows >= min_density:
            victims.append(rel)
            rows_materialized += n_del
    if not victims:
        return {
            "version": head,
            "files_purged": 0,
            "files_kept": len(man["files"]),
            "dvs_kept": len(dv_map),
            "rows_materialized": 0,
        }
    token = uuid.uuid4().hex[:12]
    sdata, scols = _scan_with_pos(
        spark, path, victims, {rel: dv_map[rel] for rel in victims},
        mapping, _phys_schema(man),
    )
    new_files, new_values = _route_rewrite(
        sdata.select(*scols), path, man, token, compression, mapping
    )
    version = _commit_change(
        path, man, token, removed=victims, new_files=new_files,
        new_values=new_values,
    )
    return {
        "version": version,
        "files_purged": len(victims),
        "files_kept": len(man["files"]) - len(victims),
        "dvs_kept": len(dv_map) - len(victims),
        "rows_materialized": rows_materialized,
    }


# ---------------------------------------------------------------------------
# Merge-on-read UPSERTS — delta files + latest-wins resolution (the
# Hudi-MOR / Paimon-LSM idea on this layer's manifests; the UPDATE-side
# twin of deletion vectors: DVs make deletes O(matched), these make
# upserts O(changes))
# ---------------------------------------------------------------------------


# Delete-capable MOR chains (r13): delta rows may carry this physical
# column; a winning MOR_DELETE_OP row masks its key from the resolved
# view. Declared per table in the manifest's mor block as "op_col" the
# first time a MOR DELETE/MERGE lands (upsert groups never carry it and
# project it as NULL). Hudi's _hoodie delete marker / Delta CDF 'D'.
MOR_OP_COL = "_mor_op"
MOR_DELETE_OP = "D"


def upsert_delta_snapshot(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    compression: str = PARQUET_CODEC,
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
    merge_mode: str = "latest",
    agg_spec: dict | None = None,
) -> int:
    """MERGE-ON-READ upsert: ``changes`` lands as DELTA FILES — no base
    file is read, let alone rewritten, so the write costs O(changes)
    regardless of table size (vs :func:`merge_upsert_snapshot`'s
    copy-on-write full resolve). The manifest accumulates the delta
    chain in commit order; every snapshot reader resolves LATEST-WINS
    per key at read time (newer delta commit beats older beats base;
    ``seq_col`` breaks ties within one commit — the caller contract is
    (key, seq) unique per commit, the same contract CDC feeds satisfy).
    :func:`compact_mor` is the major compaction that folds the chain
    back into clean base files when the read tax outgrows it.

    Key/seq columns are fixed by the first delta commit; DV tables must
    purge before switching to MOR (one read-path merge mechanism at a
    time — stacking them would make every read reason about both).
    ``txn=(app_id, batch_id)`` gives at-least-once writers the same
    idempotence watermark as :func:`write_snapshot` — a redelivered
    micro-batch's delta is SKIPPED before any file is written, so a
    streaming CDC upsert sink is exactly-once with the manifest
    hard-link as the only commit point. ``branch`` (r14): stage the
    delta group on a BRANCH chain instead of main — the
    write-audit-publish flow for streaming CDC (audit the staged chain
    with :func:`read_branch`, publish with :func:`fast_forward`, whose
    txn merge keeps the staged watermarks); returns the branch-local
    commit number, racing branch writers refuse. Returns the new
    version; prior versions stay readable with exactly the delta
    prefix they committed.

    ``merge_mode="partial"`` (r14 — Paimon partial-update / Hudi
    PARTIAL_UPDATE payload): delta rows patch ONLY their non-NULL
    columns; NULL means "keep the prior value". The mode is a TABLE
    property fixed at the first delta commit. The documented trade:
    explicit null-out is impossible (delete + re-upsert instead — a
    tombstone RESETS the key, so later patches start from nothing);
    UPDATE/MERGE DML refuse on partial tables (a full image whose NULL
    really meant NULL would resurrect older values) — delete works,
    and compact_mor major materializes the merged view.

    ``merge_mode="aggregate"`` (Paimon's aggregation merge engine):
    each column folds by ``agg_spec[col]`` — ``sum`` (delta rows carry
    INCREMENTS; declare the column wide enough, the fold casts back to
    the committed type), ``max``, ``min``, or ``last`` (the partial
    behavior; also the default for unspecified columns) — with base
    rows as the initial accumulator. The spec is immutable alongside
    the mode; the same walls apply, and a tombstone RESETS the
    accumulator."""
    import os
    import shutil
    import uuid

    man, head_id, expect_bv = _dml_head(path, branch)
    if man.get("dv"):
        raise ValueError(
            "MOR deltas and deletion vectors cannot mix — "
            "purge_deletion_vectors first"
        )
    # r13 (r12 verdict #3): column-mapped, widened and dropped-column
    # tables take delta commits natively — changes arrive LOGICAL and
    # write PHYSICAL (the table's one physical schema spans base and
    # every group); _resolve_mor projects per group and casts to the
    # committed (wide) type, so narrow old files and wide new deltas
    # coexist without forced schemas.
    mapping = dict(man.get("column_mapping") or {})
    if man.get("generated"):
        changes = _apply_generated(
            changes, man["generated"], man.get("schema") or {},
            "upsert_delta_snapshot",
        )
    prev_txn = man.get("txn") or {}
    if txn is not None and txn[1] <= prev_txn.get(txn[0], -1):
        return head_id  # redelivered batch: idempotent skip
    new_schema = {f.name: f.dataType.simpleString() for f in changes.schema}
    _check_reserved(new_schema, ("_ci", "_rn", MOR_OP_COL))
    old_schema = man["schema"]
    drift = {
        c: (old_schema[c], new_schema[c])
        for c in new_schema
        if c in old_schema and new_schema[c] != old_schema[c]
    }
    if drift:
        raise ValueError(
            "delta upsert cannot change committed column types "
            f"({drift}) — non-additive drift evolves via an overwrite "
            "commit, never a delta"
        )
    if merge_mode not in ("latest", "partial", "aggregate"):
        raise ValueError(f"unknown merge_mode {merge_mode!r}")
    if merge_mode == "aggregate":
        if not agg_spec:
            raise ValueError(
                "merge_mode='aggregate' needs agg_spec={column: "
                "'sum'|'max'|'min'|'last'}"
            )
        bad_fn = {c: f for c, f in agg_spec.items()
                  if f not in ("sum", "max", "min", "last")}
        if bad_fn:
            raise ValueError(
                f"unknown aggregate functions {bad_fn} — supported: "
                "sum, max, min, last"
            )
        bad_col = sorted(
            c for c in agg_spec
            if c in key_cols or c == seq_col
        )
        if bad_col:
            raise ValueError(
                f"agg_spec cannot target key/seq columns {bad_col}"
            )
    elif agg_spec:
        raise ValueError("agg_spec only applies to merge_mode='aggregate'")
    mor = man.get("mor") or {
        "key_cols": list(key_cols),
        "seq_col": seq_col,
        "deltas": [],
        **({"merge": merge_mode} if merge_mode != "latest" else {}),
        **({"aggs": dict(agg_spec)} if merge_mode == "aggregate" else {}),
    }
    if mor["key_cols"] != list(key_cols) or mor["seq_col"] != seq_col:
        raise ValueError(
            f"MOR key/seq fixed at first upsert: "
            f"({mor['key_cols']}, {mor['seq_col']!r})"
        )
    if mor.get("merge", "latest") != merge_mode:
        # r14 partial-update / aggregation modes (Paimon merge
        # engines, Hudi PARTIAL_UPDATE): the merge engine is a TABLE
        # property fixed at the first delta commit — mixing per-commit
        # semantics would make every read's meaning depend on which
        # commit a value arrived in
        raise ValueError(
            f"MOR merge mode fixed at first upsert: table is "
            f"{mor.get('merge', 'latest')!r}, commit asked for "
            f"{merge_mode!r}"
        )
    if (
        merge_mode == "aggregate"
        and agg_spec is not None
        and dict(mor.get("aggs") or {}) != dict(agg_spec)
    ):
        raise ValueError(
            f"aggregate spec fixed at first upsert: table folds "
            f"{mor.get('aggs')}, commit asked for {dict(agg_spec)}"
        )
    required = list(mor["key_cols"]) + [mor["seq_col"]]
    absent = [c for c in required if c not in new_schema]
    if absent:
        raise ValueError(
            f"delta upsert changes must carry key/seq columns {absent}"
        )
    # Additive evolution both ways (the q65 footer-union contract):
    # columns new in `changes` extend the committed schema in arrival
    # order; committed columns absent from `changes` resolve as typed
    # NULLs for this delta's rows (_resolve_mor projects per group).
    merged_schema = dict(old_schema)
    for c, t in new_schema.items():
        if c not in merged_schema:
            merged_schema[c] = t
    dropped = set(man.get("dropped") or [])
    reborn = sorted(
        c for c in new_schema
        if c not in old_schema and mapping.get(c, c) in dropped
    )
    if reborn:
        raise ValueError(
            f"delta columns {reborn} reuse DROPPED column names whose "
            "bytes still live in old files — rewrite the table "
            "(compact_mor) before reusing the name"
        )
    if man.get("constraints"):
        _enforce_constraints(
            changes, man["constraints"], "upsert_delta_snapshot"
        )
    part = man.get("partition")
    if part and part.get("specs"):
        # r14 (r13 verdict #2 — hidden partitioning on MOR): delta
        # groups route through the hive writer under the CURRENT spec,
        # so chain files carry REAL partition tuples — the partitioned
        # read prunes base AND chain before the latest-wins window, and
        # the change feed admits MOR groups exactly by tuple.
        # SOUNDNESS RULE: spec sources must be MOR KEY columns — a
        # key's partition tuple is then constant across every commit of
        # that key (the read_snapshot_pruned key-column argument), so
        # per-partition resolution equals global resolution restricted
        # to the partition. Hudi's record-key/partition-path contract.
        spec = part["specs"][part["current"]]
        bad_spec = sorted(
            t["col"] for t in spec if t["col"] not in mor["key_cols"]
        )
        if bad_spec:
            raise ValueError(
                f"MOR delta on a table partitioned by non-key columns "
                f"{bad_spec} (keys: {mor['key_cols']}) — a non-key "
                "partition value can change between commits of one key, "
                "so partition-pruned resolution would resurrect "
                "superseded rows. evolve_partition_spec to key-column "
                "transforms, or overwrite (write_snapshot) to shed the "
                "layout first"
            )
    token = uuid.uuid4().hex[:12]
    # zero-row part files are dropped by footer count (ADVICE r8: Spark
    # writes a schema-only file even for an empty DataFrame); a mapped
    # table's delta files share its ONE physical schema
    new_files, new_values = _write_delta_group_routed(
        changes, path, man, token, compression
    )
    if not new_files:
        # ADVICE r7: an empty micro-batch must not commit an empty delta
        # group — _resolve_mor's read of a zero-path group would brick
        # every later read. No-op the data side; a txn watermark still
        # advances via a manifest commit that adds NO delta group.
        shutil.rmtree(os.path.join(path, "data", token), ignore_errors=True)
        if txn is None:
            return head_id
        return _commit_txn(path, man, token, txn, branch, expect_bv)

    def _check(head: dict) -> None:
        # additive evolution only: a column this delta writes must keep
        # its type on the racing head
        for c, t in (head.get("schema") or {}).items():
            if c in new_schema and new_schema[c] != t:
                raise ConcurrentCommitError(
                    f"concurrent schema evolution: column {c!r} is now "
                    f"{t}, this delta has {new_schema[c]!r}"
                )

    return _commit_delta_group(
        path, {**man, "schema": merged_schema, "mor": mor}, new_files,
        token, new_values=new_values, txn=txn, tombstones=False,
        check=_check, branch=branch, expect_bv=expect_bv,
    )


def _resolve_mor(
    spark: SparkSession, path: str, manifest: dict,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Latest-wins resolution of a MOR manifest: base rows rank commit 0,
    each delta group its commit index; one key-partitioned window picks
    (commit DESC, seq DESC) per key. On a layout bucketed by the key the
    window plans with zero extra Exchange; the delta chain length — not
    the table size — is what grows the read tax, which is what
    :func:`compact_mor` resets.

    DELETE-capable chains (r13 — Hudi delete-marker / Delta CDF 'D'
    semantics): when the mor block declares ``op_col``, delta rows may
    carry that physical column with :data:`MOR_DELETE_OP` tombstones
    (written by the MOR DELETE/MERGE verbs; upsert groups simply lack
    the column and project it as NULL). A key whose WINNING row is a
    tombstone is masked from the resolved view — unless
    ``keep_tombstones=True`` (the minor-compaction fold, which must
    keep tombstones masking base rows), where the op column stays in
    the output."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    mor = manifest["mor"]
    schema = manifest["schema"]  # manifest dict preserves column order
    cols = list(schema)
    _check_reserved(cols, ("_ci", "_rn"))
    op = mor.get("op_col")
    proj_cols = cols + ([op] if op else [])
    proj_types = {**schema, **({op: "string"} if op else {})}
    # mapped tables (r13): every commit group shares the table's ONE
    # physical schema — read physical, emit logical. The cast makes
    # widened columns resolve too: narrow old groups upcast to the
    # committed type, no forced read schema needed (each group's files
    # come from one commit, so per-group inference is consistent).
    mapping = manifest.get("column_mapping") or {}
    phys_of = {c: mapping.get(c, c) for c in cols}
    if op:
        phys_of[op] = op  # internal column, never mapped

    def _proj(df):
        # Additive schema evolution: a commit written before a column
        # existed (base or early delta) projects it as a typed NULL, the
        # same union contract snapshot_changes and q65 pin.
        have = set(df.columns)
        return df.select(
            *(
                F.col(phys_of[c]).cast(proj_types[c]).alias(c)
                if phys_of[c] in have
                else F.lit(None).cast(proj_types[c]).alias(c)
                for c in proj_cols
            )
        )

    # commit index preserves COMMIT ORDER even when a group is empty —
    # read_snapshot_pruned may hand us a manifest whose base or delta
    # groups were file-pruned down to nothing; an empty group contributes
    # no rows but must not shift later commits' rank.
    #
    # Every group read FORCES the committed physical schema instead of
    # inferring from footers (guide §6; the Iceberg/Delta read-path
    # contract — the manifest, not a sampled footer, is the schema
    # truth). Same semantics as the per-group inference + _proj null
    # fill it replaces: columns absent from a group's files null-fill,
    # narrow files upcast in the vectorized scan (the _scan_with_pos
    # force path's existing contract), extra (dropped) columns are
    # never projected. The win is structural: schema inference launches
    # one single-task Spark job per spark.read.parquet call, so every
    # resolve of an N-group chain paid N+1 scheduler round-trips before
    # reading a single data page — at 100 TB chain lengths of hundreds
    # that is a real driver stall per read, locally it was ~40% of the
    # job count of every MOR verb (measured: q86f 48 -> 29 jobs).
    group_ddl = _schema_ddl({phys_of[c]: proj_types[c] for c in proj_cols})
    u = None
    for i, grp in enumerate([manifest["files"]] + list(mor["deltas"])):
        if not grp:
            continue
        part = _proj(
            spark.read.schema(group_ddl).parquet(
                *(os.path.join(path, rel) for rel in grp)
            )
        ).withColumn("_ci", F.lit(i))
        u = part if u is None else u.unionByName(part)
    if u is None:
        raise ValueError("MOR manifest resolves zero commit groups")
    if mor.get("merge") in ("partial", "aggregate"):
        # Paimon partial-update / aggregation merge engines, Hudi
        # PARTIAL_UPDATE payload (r14): a delta row patches ONLY its
        # non-NULL columns. Under "partial" every column takes its
        # NEWEST non-NULL value; under "aggregate" each column folds by
        # its declared function over the chain (sum/max/min; "last" =
        # the partial behavior; base rows are the initial accumulator).
        # NULL means "contributes nothing" — the documented trade of
        # every such engine: explicit null-out is impossible — deletes
        # go through tombstones, which also RESET the key: rows newer
        # than the newest tombstone start from nothing, so a deleted
        # key's old values can never resurrect (or keep accumulating).
        # One pass, two windows: a cumulative tombstone count in
        # newest-first order marks the eligible suffix, then per column
        # a window fold over the full frame — no self-join, no
        # per-column shuffle; the key-partitioned exchange is shared.
        if keep_tombstones:
            raise ValueError(
                f"{mor['merge']}-merge chains cannot fold minor over "
                "tombstones — a fold collapses commit ranks, and "
                "resolution needs them to order contributions against "
                "tombstones (compact_mor major materializes instead)"
            )
        keys, seq = mor["key_cols"], mor["seq_col"]
        aggs = mor.get("aggs") or {}
        # eqNullSafe: upsert rows carry a NULL op — a plain == would
        # make the cumulative sum NULL for every key with no tombstone
        # at all, silently dropping the whole key
        is_tomb = (
            F.col(op).eqNullSafe(MOR_DELETE_OP) if op else F.lit(False)
        )
        w_desc = W.partitionBy(*keys).orderBy(
            F.col("_ci").desc(), F.col(seq).desc()
        )
        full = w_desc.rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        flagged = u.withColumn(
            "_el",
            F.sum(is_tomb.cast("int")).over(
                w_desc.rowsBetween(W.unboundedPreceding, W.currentRow)
            ) == 0,
        )
        val_cols = [c for c in cols if c not in keys and c != seq]

        def _fold(c):
            v = F.when(F.col("_el"), F.col(c))
            fn = aggs.get(c, "last")
            if fn == "sum":
                # sum widens (int -> bigint): cast back to the
                # committed type — declare the column wide enough
                return F.sum(v).over(full).cast(proj_types[c])
            if fn == "max":
                return F.max(v).over(full)
            if fn == "min":
                return F.min(v).over(full)
            return F.first(v, ignorenulls=True).over(full)

        merged = flagged.select(
            *keys,
            F.col(seq),
            F.col("_el"),
            F.row_number().over(
                W.partitionBy(*keys).orderBy(
                    F.col("_el").desc(),
                    F.col("_ci").desc(),
                    F.col(seq).desc(),
                )
            ).alias("_rn"),
            *(_fold(c).alias(c) for c in val_cols),
        )
        return merged.filter(
            (F.col("_rn") == 1) & F.col("_el")
        ).select(*cols)
    w = W.partitionBy(*mor["key_cols"]).orderBy(
        F.col("_ci").desc(), F.col(mor["seq_col"]).desc()
    )
    out = (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ci")
    )
    if op and not keep_tombstones:
        out = out.filter(
            F.col(op).isNull() | (F.col(op) != MOR_DELETE_OP)
        ).drop(op)
    return out


def compact_mor(spark: SparkSession, path: str,
                compression: str = PARQUET_CODEC,
                minor: bool = False,
                cluster_by: list[str] | None = None,
                n_shards: int = 8) -> int:
    """COMPACTION of a MOR table. Default (major): resolve latest-wins
    ONCE and commit the result as a plain manifest — the delta chain is
    gone, reads are clean scans again, per-file stats are recomputed when
    the table carries them. No-op (no new version) on a table without
    deltas. Prior delta-chain versions stay time-travelable until
    vacuumed.

    ``minor=True`` (r9, VERDICT r8 "Next round" #5): fold the DELTA CHAIN
    ONLY into a single delta group — latest-wins among deltas, one row
    per key — leaving every base file untouched on disk and in the
    manifest. This bounds the read tax between majors at O(base + |live
    delta keys|) instead of O(base + chain length × batch), and costs
    O(chain) instead of the major's O(table): the daily valve for a
    100 TB table whose base rewrite is a weekend job. Correctness is
    order-preserving: the fold ranks delta commits exactly as
    ``_resolve_mor`` does, and the folded group (one row per key) beats
    base per key just as any delta row did. No-op when the chain is
    already ≤ 1 group.

    ``cluster_by`` (r14, major only): the materialized base goes out
    Z-order-clustered on the given columns with per-file stats for
    them — the weekend major compaction is exactly when a 100 TB MOR
    table can afford to fix its layout, so the rewrite it already pays
    buys read-side file skipping too (on a partitioned table each
    partition's files are range-sharded by the Morton code — clustering
    composes with the hidden layout). Minor refuses ``cluster_by``:
    a chain fold rewrites no base file, so there is nothing to
    cluster."""
    import glob
    import json
    import os
    import uuid

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    with open(os.path.join(_manifest_dir(path), f"v{versions[-1]}.json")) as f:
        man = json.load(f)
    if "mor" not in man:
        return versions[-1]
    if minor and cluster_by:
        raise ValueError(
            "cluster_by is a MAJOR compaction option — a minor fold "
            "rewrites no base file, so there is nothing to cluster"
        )
    stats_cols = None
    if "stats" in man:
        stats_cols = sorted(
            {c for per_file in man["stats"].values() for c in per_file}
        )
    if cluster_by:
        stats_cols = sorted(set(stats_cols or []) | set(cluster_by))
    if minor:
        deltas = man["mor"]["deltas"]
        if len(deltas) <= 1:
            return versions[-1]
        # latest-wins among the CHAIN only: re-rank group 1 as the "base"
        # of a synthetic manifest and groups 2..n as its deltas — the
        # relative commit order (all that the window uses) is identical,
        # so the fold IS _resolve_mor restricted to the chain.
        # keep_tombstones: a winning op='D' row must SURVIVE the fold —
        # it still masks base rows the minor compaction never reads
        # (dropping it would resurrect the deleted key).
        mapping = man.get("column_mapping") or {}
        folded = _resolve_mor(
            spark, path,
            {
                "files": deltas[0],
                "schema": man["schema"],
                "mor": {**man["mor"], "deltas": deltas[1:]},
                **(
                    {"column_mapping": mapping} if mapping else {}
                ),
            },
            keep_tombstones=bool(man["mor"].get("op_col")),
        )
        token = uuid.uuid4().hex[:12]
        # routed write (r14): on a partitioned MOR table the folded
        # group keeps real tuples (mapping renamed physically inside)
        new_files, new_values = _write_delta_group_routed(
            folded, path, man, token, compression
        )
        manifest = {
            "files": man["files"],  # base untouched, byte for byte
            "schema": man["schema"],
            "mor": {**man["mor"], "deltas": [new_files] if new_files else []},
        }
        if mapping:
            manifest["column_mapping"] = mapping
        _carry_partition_mor(man, manifest, new_files, new_values)
        if "txn" in man:
            manifest["txn"] = man["txn"]
        if "stats" in man:
            stats = {
                rel: man["stats"][rel]
                for rel in man["files"]
                if rel in man["stats"]
            }
            stats.update(
                _stats_logical(new_files, path, stats_cols, mapping)
            )
            manifest["stats"] = stats
        return _commit_manifest(path, manifest, token)
    resolved = read_snapshot(spark, path)
    if cluster_by and not resolved.isEmpty():
        resolved = zorder_layout(resolved, cluster_by, n_shards)
    part = man.get("partition")
    if part and part.get("specs"):
        # r14: a partitioned MOR table's major compaction keeps the
        # hidden layout — the materialized base goes out through the
        # partitioned writer (overwrite sheds the chain wholesale, the
        # write_snapshot-on-MOR rule) with fresh tuples on every file.
        return write_snapshot_partitioned(
            spark, resolved, path, part["specs"][part["current"]],
            mode="overwrite", compression=compression,
            stats_cols=stats_cols,
        )
    return write_snapshot(
        spark, resolved, path,
        compression=compression, stats_cols=stats_cols,
    )


def _mor_tuple_pruned_manifest(
    man: dict, partition_where: dict, spark=None
):
    """Partition-tuple twin of :func:`_mor_pruned_manifest` (r14):
    prune a partitioned MOR manifest's base files AND delta groups to
    the files whose tuples can satisfy ``partition_where``. Sound for
    the same reason the partitioned MOR read is: spec sources are key
    columns, so tuple-matched sets are key-closed and the latest-wins
    winner over the survivors is the true winner for the matching
    partitions' keys. No-tuple files always survive. Returns (pruned
    manifest, files surviving, files total); a table without a
    partition block passes through unpruned."""
    mor = man["mor"]
    all_rels = list(man["files"]) + [
        rel for grp in mor["deltas"] for rel in grp
    ]
    part = man.get("partition")
    if not part or not part.get("specs"):
        return man, len(all_rels), len(all_rels)
    keep_base = _partition_keep(
        part, man["files"], partition_where, spark
    )
    keep_groups = [
        _partition_keep(part, grp, partition_where, spark)
        for grp in mor["deltas"]
    ]
    pruned = {
        "files": keep_base,
        "schema": man["schema"],
        "mor": {**mor, "deltas": keep_groups},
    }
    for carry in ("column_mapping", "widened", "dropped", "stats",
                  "partition"):
        if man.get(carry):
            pruned[carry] = man[carry]
    n_keep = len(keep_base) + sum(len(g) for g in keep_groups)
    return pruned, n_keep, len(all_rels)


def _mor_pruned_manifest(man: dict, bounds: dict):
    """Stats-prune a MOR manifest's base files AND delta groups to the
    files whose recorded [min, max] can intersect ``bounds`` (``{key
    col: (lo, hi)}``) — the read-side half of the MOR DML verbs. Sound
    exactly like :func:`read_snapshot_pruned`'s MOR rule: a key column
    is constant across every commit of a key, so all rows of an
    in-range key live in range-intersecting files and the latest-wins
    winner computed over the survivors is the true winner for those
    keys. Empty groups stay positionally (commit rank alignment).
    Returns (pruned manifest, files surviving, files total)."""
    stats = man.get("stats") or {}
    mor = man["mor"]
    all_rels = list(man["files"]) + [
        rel for grp in mor["deltas"] for rel in grp
    ]
    keep = set(all_rels)
    for kc, (lo, hi) in bounds.items():
        if lo is None:
            continue
        elo, ehi = _stat_encode(lo), _stat_encode(hi)
        keep = {
            rel for rel in keep
            if (s_ := stats.get(rel, {}).get(kc)) is None
            or not (s_[1] < elo or s_[0] > ehi)
        }
    pruned = {
        "files": [rel for rel in man["files"] if rel in keep],
        "schema": man["schema"],
        "mor": {
            **mor,
            "deltas": [
                [rel for rel in grp if rel in keep]
                for grp in mor["deltas"]
            ],
        },
    }
    # hand-built sub-manifests must copy the read-contract keys (the
    # r12 rule): mapping translates, widened/dropped force projection
    for carry in ("column_mapping", "widened", "dropped"):
        if man.get(carry):
            pruned[carry] = man[carry]
    return pruned, len(keep), len(all_rels)


def _write_delta_group(
    df: DataFrame, path: str, token: str, compression: str
) -> list:
    """Write one MOR delta group's files and return their relpaths,
    dropping schema-only zero-row part files by footer count (the
    upsert path's empty-batch discipline)."""
    import glob
    import os

    import pyarrow.parquet as _pq

    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    return sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
        if _pq.ParquetFile(p).metadata.num_rows > 0
    )


def _write_delta_group_routed(
    df_logical: DataFrame, path: str, man: dict, token: str,
    compression: str,
) -> tuple[list, dict | None]:
    """Land one MOR delta group and return ``(relpaths, {rel: [sid,
    tuple]} | None)`` — the delta-chain twin of :func:`_route_rewrite`
    (r14): on a hidden-partitioned MOR table the group's rows route
    through the hive writer under the CURRENT spec, so delta files come
    out with REAL partition tuples and both the partitioned read's
    pruning and the change feed's exact tuple admission hold for the
    chain, not just the base. ``df_logical`` speaks logical names; a
    mapped table's physical rename happens at write. Tombstone rows
    carry the MOR key columns, and a MOR table's spec sources are key
    columns only (enforced at spec attach), so every delta row — image
    or tombstone — transforms to a real tuple. Defensive fallback: a
    spec column absent from the frame (a legacy non-key spec) degrades
    to the plain untupled write — pruning degrades, never lies."""
    import os

    import pyarrow.parquet as _pq

    mapping = man.get("column_mapping") or {}
    part = man.get("partition")
    have = set(df_logical.columns)
    if part and part.get("specs"):
        spec = part["specs"][part["current"]]
        if all(t["col"] in have for t in spec):
            dtypes = {
                f.name: f.dataType.simpleString()
                for f in df_logical.schema
            }
            files, values = _write_partitioned_files(
                df_logical, path, spec, part["current"], dtypes,
                compression, mapping or None,
            )
            keep = [
                r for r in files
                if _pq.ParquetFile(
                    os.path.join(path, r)
                ).metadata.num_rows > 0
            ]
            return keep, {r: values[r] for r in keep}
    out = (
        df_logical.withColumnsRenamed(mapping) if mapping else df_logical
    )
    return _write_delta_group(out, path, token, compression), None


def _carry_partition_mor(
    man: dict, manifest: dict, new_files: list,
    new_values: dict | None = None,
) -> None:
    """Carry a partition block through a DELTA-GROUP commit: every live
    rel (base files + every chain file) keeps its recorded tuple, the
    new group's files take theirs from ``new_values`` (hive-routed
    write) or None (plain write — never pruned)."""
    part = man.get("partition")
    if not part:
        return
    vals = dict(part.get("values") or {})
    nv = new_values or {}
    live = list(manifest.get("files") or [])
    for grp in (manifest.get("mor") or {}).get("deltas", []):
        live.extend(grp)
    manifest["partition"] = {
        **{k: part[k] for k in part if k != "values"},
        "values": {
            rel: (nv.get(rel) if rel in set(new_files) else vals.get(rel))
            for rel in live
        },
    }


def _commit_delta_group(
    path: str, man: dict, new_files: list, token: str, *,
    new_values: dict | None = None, txn: tuple | None = None,
    tombstones: bool = True, check=None,
    branch: str | None = None, expect_bv: int | None = None,
) -> int:
    """Commit ``new_files`` as the next delta group of ``man``'s chain —
    the one place a delta-group manifest is built. ``man`` is the head
    the group was written under, with the schema and ``mor`` block the
    commit declares (an upsert's may extend the schema or start the
    chain); ``tombstones`` declares the op column (the group may carry
    op='D' rows). The base file list rides byte-identical; stats harvest
    footers of the new files only; ``txn`` advances its watermark.

    On a lost main race, ``check=None`` refuses: the row-level DML group
    was derived from the resolved view, so any concurrent commit
    invalidates it. Otherwise the group is append-shaped and re-applies
    to the head's chain once the shared checks pass — the chain, its
    key/seq columns and the base files are unchanged, no table contract
    moved, the partition spec is unchanged and the ``txn`` batch is not
    already committed — and ``check(head)`` (the verb's own gate)
    raises nothing. The loser's group then lands after the winner's:
    within-key ordering across concurrent batches is the seq column's
    job, the same contract sequential commits have."""
    mor = man["mor"]
    mapping = man.get("column_mapping") or {}
    new_stats = None
    if "stats" in man:
        cols = sorted({c for per in man["stats"].values() for c in per})
        new_stats = _stats_logical(new_files, path, cols, mapping)

    def _apply(head: dict) -> dict:
        hmor, hschema = head["mor"], head["schema"]
        m = {
            "files": head["files"],
            "schema": {
                **hschema,
                **{c: t for c, t in man["schema"].items()
                   if c not in hschema},
            },
            "mor": {
                **hmor,
                "deltas": hmor["deltas"] + [new_files],
                **({"op_col": MOR_OP_COL} if tombstones else {}),
            },
        }
        if mapping:
            m["column_mapping"] = mapping
        _carry_partition_mor(head, m, new_files, new_values)
        txns = dict(head.get("txn") or {})
        if txn is not None:
            txns[txn[0]] = txn[1]
        if txns:
            m["txn"] = txns
        if "stats" in head or new_stats is not None:
            m["stats"] = {**(head.get("stats") or {}), **(new_stats or {})}
        return m

    def _rebase(head: dict) -> dict:
        hmor = head.get("mor")
        if not hmor:
            raise ConcurrentCommitError(
                "the MOR delta chain was removed concurrently (major "
                "compaction?) — re-run the verb against the new head"
            )
        if (hmor["key_cols"], hmor["seq_col"]) != (
            mor["key_cols"], mor["seq_col"]
        ):
            raise ConcurrentCommitError(
                "MOR key/seq columns changed concurrently"
            )
        if set(head.get("files") or []) != set(man["files"]):
            raise ConcurrentCommitError(
                "base files changed concurrently (compaction/DML) — "
                "re-run the verb against the new head"
            )
        for key in ("constraints", "generated", "column_mapping",
                    "widened", "dropped"):
            if (head.get(key) or None) != (man.get(key) or None):
                raise ConcurrentCommitError(
                    f"table {key} changed concurrently — this delta group "
                    "was written under the old contract; re-run"
                )
        _spec_unchanged(head, man)
        if txn is not None and txn[1] <= (head.get("txn") or {}).get(
            txn[0], -1
        ):
            raise ConcurrentCommitError(
                f"txn batch {txn} already committed by a concurrent "
                "writer — re-run the verb for the idempotent skip"
            )
        check(head)
        return _apply(head)

    return _commit_dml_manifest(
        path, _apply(man), token, branch, expect_bv,
        rebase=None if check is None else _rebase,
    )


def _commit_txn(path, man, token, txn, branch, expect_bv) -> int:
    """Commit ``man`` unchanged but for the ``txn`` watermark — a batch
    that wrote nothing still records that it was applied (idempotence
    must survive empty batches). Any race refuses: the verb re-runs and
    either skips or writes against the new head."""
    manifest = {**man, "txn": {**(man.get("txn") or {}), txn[0]: txn[1]}}
    return _commit_dml_manifest(path, manifest, token, branch, expect_bv)


def snapshot_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """CDC CHANGE FEED between two committed versions: time-travel read
    both, full-outer join on the key, and emit one row per changed key —
    ``change_type`` ∈ insert / delete / update with the old and new
    non-key columns as structs (``_old`` / ``_new``, NULL on the absent
    side). Unchanged keys are filtered by a null-safe struct compare, so
    the feed is exactly the delta.

    Table formats with a retained commit log derive change feeds from
    the log; diff-of-snapshots is the generic fallback that works for
    ANY version pair (including across a vacuumed log gap) at the cost
    of scanning both versions. The join is a key-partitioned full outer
    — on a layout bucketed by the key it plans with zero Exchange, and
    AQE broadcasts the small side when one version is a sliver of the
    other (the common backfill-diff case)."""
    from pyspark.sql import functions as F

    if v_from > 0:
        map_a = _load_manifest(path, v_from).get("column_mapping") or {}
        map_b = _load_manifest(path, v_to).get("column_mapping") or {}
        if map_a != map_b:
            # each side reads in ITS OWN era's logical names, so a value
            # column renamed between the endpoints would look like a
            # drop+add and every key would emit a spurious update —
            # refuse instead of lying (a rename commit itself is a data
            # noop; diff around it, or materialize first)
            raise ValueError(
                f"snapshot_changes across a rename boundary "
                f"(v{v_from} mapping {map_a} != v{v_to} mapping {map_b}) "
                "— diff within one naming era or "
                "materialize_column_mapping first"
            )
    a = read_snapshot(spark, path, version=v_from)
    b = read_snapshot(spark, path, version=v_to)
    missing = [c for c in key_cols if c not in a.columns or c not in b.columns]
    if missing:
        raise ValueError(
            f"snapshot_changes: key columns {missing} absent from "
            f"v{v_from} or v{v_to} of {path!r}"
        )
    # ADVICE r5: write_snapshot supports additive schema evolution, so the
    # value-struct must cover the UNION of both versions' columns — a
    # column added (or dropped) between versions projects as a typed NULL
    # on the side that lacks it. Deriving val_cols from v_from alone hid
    # new columns from both the null-safe compare and the feed.
    val_cols = [c for c in a.columns if c not in key_cols]
    val_cols += [c for c in b.columns if c not in key_cols and c not in val_cols]
    types = {f.name: f.dataType for f in a.schema.fields}
    types.update({f.name: f.dataType for f in b.schema.fields})

    def _side(df):
        cols = [
            F.col(c) if c in df.columns
            else F.lit(None).cast(types[c]).alias(c)
            for c in val_cols
        ]
        return df.select(*key_cols, F.struct(*cols).alias("_val"))

    oa = _side(a).withColumnRenamed("_val", "_old")
    ob = _side(b).withColumnRenamed("_val", "_new")
    j = oa.join(ob, key_cols, "full_outer")
    return j.filter(~F.col("_old").eqNullSafe(F.col("_new"))).select(
        *key_cols,
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        "_old",
        "_new",
    )


def _load_manifest(path: str, version: int) -> dict:
    import json
    import os

    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        return json.load(f)


def classify_transition(path: str, base_version: int, version: int) -> dict:
    """Classify the commit(s) taking the table from ``base_version`` to
    ``version`` by MANIFEST SHAPE ALONE (two JSON reads, zero data
    pages) — the dispatch the incremental change feed runs per version
    so steady-state transitions cost O(changes), never a two-version
    scan. Returns ``{"kind": ..., **details}`` with kind one of:

    * ``initial`` — ``base_version == 0``: the whole snapshot is the
      delta (all inserts); ``new_files`` = every base file.
    * ``noop`` — same files, DVs and delta chain (a txn-watermark
      advance / empty-batch commit): the delta is empty.
    * ``append`` — file list grew, nothing else moved (``mode='append'``
      commits, the streaming-ingest shape): the delta is exactly the
      ``new_files``, all inserts (under the layer-wide key-unique
      contract).
    * ``mor`` — the MOR delta chain grew by ``new_groups`` (base files,
      DVs untouched): the delta is exactly those groups' upsert rows.
    * ``dv`` — deletion vectors grew (files untouched):
      ``dv_changed`` maps each touched data file to its (old sidecar or
      None, new sidecar); the delta is the newly-deleted positions.
    * ``rewrite`` — anything else (COW merge/delete, compaction,
      overwrite, DV purge, or a multi-commit range mixing kinds): no
      log-local derivation exists; callers fall back to the generic
      diff-of-snapshots (:func:`snapshot_changes`).

    ``base_version``/``version`` need not be adjacent — the shape tests
    (superset / chain-prefix / DV-growth) hold across any retained pair,
    so a range of same-kind commits (or a vacuumed gap between appends)
    still classifies fast."""
    m = _load_manifest(path, version)
    if base_version == 0:
        return {"kind": "initial", "new_files": list(m["files"]),
                "manifest": m}
    p = _load_manifest(path, base_version)
    pf, cf = set(p["files"]), set(m["files"])
    pdv = p.get("dv") or {}
    cdv = m.get("dv") or {}
    pmor = p.get("mor") or {}
    cmor = m.get("mor") or {}
    pdel = pmor.get("deltas", [])
    cdel = cmor.get("deltas", [])
    mor_keys_eq = (not pmor and not cmor) or (
        pmor.get("key_cols") == cmor.get("key_cols")
        and pmor.get("seq_col") == cmor.get("seq_col")
    ) or (not pmor and cmor and not pdel)
    if pf == cf and pdv == cdv and pdel == cdel and mor_keys_eq:
        return {"kind": "noop", "manifest": m}
    if pf < cf and pdv == cdv and pdel == cdel and mor_keys_eq:
        return {
            "kind": "append",
            "new_files": [f for f in m["files"] if f not in pf],
            "manifest": m,
        }
    if (
        pf == cf
        and not pdv
        and not cdv
        and mor_keys_eq
        and len(cdel) > len(pdel)
        and cdel[: len(pdel)] == pdel
    ):
        return {
            "kind": "mor",
            "new_groups": cdel[len(pdel):],
            "key_cols": cmor["key_cols"],
            "seq_col": cmor["seq_col"],
            "manifest": m,
        }
    if (
        pf == cf
        and not pdel
        and not cdel
        and cdv != pdv
        and set(pdv) <= set(cdv)  # a vanished DV is a purge → rewrite
    ):
        changed = {
            k: (pdv.get(k), cdv[k]) for k in cdv if pdv.get(k) != cdv[k]
        }
        return {"kind": "dv", "dv_changed": changed, "manifest": m}
    return {"kind": "rewrite", "manifest": m}


def _union_val_schema(
    path: str, base_version: int, version: int, key_cols: list[str]
) -> list[tuple[str, str]]:
    """[(col, simpleString type)] union of both versions' non-key
    columns, base-version order first then additions — the same union
    contract snapshot_changes pins for additive evolution."""
    cur = _load_manifest(path, version)["schema"]
    prev = (
        _load_manifest(path, base_version)["schema"]
        if base_version > 0
        else {}
    )
    out: list[tuple[str, str]] = []
    for src in (prev, cur):
        for c, t in src.items():
            if c not in key_cols and all(c != n for n, _ in out):
                out.append((c, t))
    return out


def version_delta(
    spark: SparkSession,
    path: str,
    version: int,
    key_cols: list[str],
    base_version: int | None = None,
) -> DataFrame:
    """INCREMENTAL CDC READER (the consumer half of the layer's CDC
    story — the writers are merge/upsert/delete; cf. Delta
    ``readChangeFeed`` / Iceberg incremental scan): the row-level change
    feed that took the table from ``base_version`` (default: the
    retained predecessor of ``version``; 0 = empty table) to
    ``version``, with :func:`snapshot_changes`' exact output contract
    (``key_cols…, change_type, _old, _new``).

    The point is the COST MODEL, dispatched by
    :func:`classify_transition`:

    * append commits read ONLY the new files — O(new data);
    * MOR delta commits read ONLY the new delta groups, then resolve
      pre-images with one semi-join-pruned probe of the base version
      (the sliver of changed keys broadcasts; the base scans once,
      shuffles never) — O(changes) + one pruned scan;
    * DV delete commits read ONLY the newly-deleted positions of the
      touched files — O(touched files);
    * everything else (COW rewrites, compaction, vacuumed-gap ranges
      that mixed kinds) falls back to the generic two-version diff —
      the documented slow path a retention policy keeps rare.

    Today a downstream MV refresh pays two full version scans per
    interval via :func:`snapshot_changes`; this verb makes the
    steady-state refresh O(changes). Reference parity: the importer's
    patch-back loop (dp-dimension-importer
    handler/incoming_instance_handler.go:217-280) is exactly an
    incremental consumer of upstream changes."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    versions = snapshot_versions(path)
    if version not in versions:
        raise FileNotFoundError(
            f"version {version} not committed (have {versions}) — vacuumed?"
        )
    if base_version is None:
        idx = versions.index(version)
        base_version = versions[idx - 1] if idx > 0 else 0
    elif base_version != 0 and base_version not in versions:
        raise FileNotFoundError(
            f"base version {base_version} not committed (have {versions})"
            " — vacuumed? start the feed from a retained version"
        )
    if base_version >= version:
        raise ValueError("base_version must be < version")
    tr = classify_transition(path, base_version, version)
    man = tr["manifest"]
    missing = [c for c in key_cols if c not in man["schema"]]
    if missing:
        raise ValueError(
            f"version_delta: key columns {missing} absent from "
            f"v{version} of {path!r}"
        )
    val_cols = _union_val_schema(path, base_version, version, key_cols)
    struct_ddl = "struct<" + ",".join(
        f"{c}:{t}" for c, t in val_cols
    ) + ">" if val_cols else "struct<>"

    def _vstruct(df):
        have = set(df.columns)
        return F.struct(
            *(
                (F.col(c) if c in have else F.lit(None).cast(t)).alias(c)
                for c, t in val_cols
            )
        )

    def _null_struct():
        return F.lit(None).cast(struct_ddl)

    if tr["kind"] == "noop":
        key_types = [(c, man["schema"][c]) for c in key_cols]
        return spark.range(0).select(
            *(F.lit(None).cast(t).alias(c) for c, t in key_types),
            F.lit(None).cast("string").alias("change_type"),
            _null_struct().alias("_old"),
            _null_struct().alias("_new"),
        )
    if tr["kind"] in ("initial", "append"):
        # schema from the transition's manifest, never footer inference
        # (guide §6): one less scheduler round-trip per diffed version,
        # and deterministic on mixed-era file sets
        df = _apply_mapping(
            spark.read.schema(
                _schema_ddl(_phys_schema(tr["manifest"]))
            ).parquet(
                *(os.path.join(path, rel) for rel in tr["new_files"])
            ),
            tr["manifest"].get("column_mapping"),
        )
        return df.select(
            *key_cols,
            F.lit("insert").alias("change_type"),
            _null_struct().alias("_old"),
            _vstruct(df).alias("_new"),
        )
    if (
        tr["kind"] == "mor"
        and (tr["manifest"].get("mor") or {}).get("merge")
        in ("partial", "aggregate")
    ):
        # r14: LOG-LOCAL feed for the partial/aggregate merge engines —
        # O(changes), same cost model as the latest-wins mor kind. The
        # key argument is SUFFIX DECOMPOSABILITY of the fold: with no
        # tombstone among the new rows, resolution over (old chain ∪
        # new rows) equals the per-column combine of the base-version
        # image with the new rows' fold (coalesce for last/partial,
        # old+Σ for sum, greatest/least for max/min); with a tombstone,
        # the key's image is the fold of the new rows' eligible suffix
        # alone (old fully masked). So the feed folds ONLY the new
        # groups, semi-joins the sliver of touched keys against the
        # base image, and combines per column — the raw patch (whose
        # NULLs mean "contributes nothing") is never emitted.
        mor_blk = tr["manifest"]["mor"]
        aggs = mor_blk.get("aggs") or {}
        seq = tr["seq_col"]
        files = [f for grp in tr["new_groups"] for f in grp]
        gi = {
            f: i for i, grp in enumerate(tr["new_groups"]) for f in grp
        }
        raw = spark.read.option("mergeSchema", "true").parquet(
            *(os.path.join(path, rel) for rel in files)
        )
        raw = raw.withColumn("_fp", F.col("_metadata.file_path"))
        raw = _apply_mapping(raw, man.get("column_mapping"))
        tok = {
            os.path.basename(os.path.dirname(f)): i for f, i in gi.items()
        }
        ci = F.create_map(
            *(x for t_, i in tok.items() for x in (F.lit(t_), F.lit(i)))
        )[F.element_at(F.split(F.col("_fp"), "/"), -2)]
        raw = raw.withColumn("_vd_gi", ci)
        op = mor_blk.get("op_col")
        has_op = op is not None and op in raw.columns
        is_tomb = (
            F.col(op).eqNullSafe(MOR_DELETE_OP) if has_op else F.lit(False)
        )
        w_desc = W.partitionBy(*key_cols).orderBy(
            F.col("_vd_gi").desc(), F.col(seq).desc()
        )
        flagged = raw.withColumn(
            "_vd_el",
            F.sum(is_tomb.cast("int")).over(
                w_desc.rowsBetween(W.unboundedPreceding, W.currentRow)
            ) == 0,
        )
        have = set(flagged.columns)

        def _fold_agg(c, t):
            v = (
                F.when(F.col("_vd_el"), F.col(c).cast(t))
                if c in have else F.lit(None).cast(t)
            )
            fn = aggs.get(c, "last")
            if fn == "sum":
                return F.sum(v).cast(t).alias(f"_p_{c}")
            if fn == "max":
                return F.max(v).alias(f"_p_{c}")
            if fn == "min":
                return F.min(v).alias(f"_p_{c}")
            return F.max_by(
                v,
                F.when(
                    F.col("_vd_el") & v.isNotNull(),
                    F.struct(F.col("_vd_gi"), F.col(seq)),
                ),
            ).alias(f"_p_{c}")

        folded = flagged.groupBy(*key_cols).agg(
            F.max(is_tomb.cast("int")).alias("_ht"),
            F.max(F.col("_vd_el").cast("int")).alias("_he"),
            *(_fold_agg(c, t) for c, t in val_cols),
        )
        old = read_snapshot(spark, path, version=base_version)
        old_small = old.join(
            F.broadcast(folded.select(*key_cols).distinct()),
            key_cols,
            "left_semi",
        )
        old_have = set(old_small.columns)
        o2 = old_small.select(
            *key_cols,
            *(
                (
                    F.col(c).cast(t) if c in old_have
                    else F.lit(None).cast(t)
                ).alias(f"_o_{c}")
                for c, t in val_cols
            ),
            F.lit(True).alias("_has_old"),
        )
        j = folded.join(F.broadcast(o2), key_cols, "left_outer")
        has_old = F.coalesce(F.col("_has_old"), F.lit(False))

        def _img(c, t):
            P, O = F.col(f"_p_{c}"), F.col(f"_o_{c}")
            fn = aggs.get(c, "last")
            if fn == "sum":
                z = F.lit(0).cast(t)
                comb = F.when(
                    P.isNull() & O.isNull(), F.lit(None).cast(t)
                ).otherwise((F.coalesce(P, z) + F.coalesce(O, z)).cast(t))
            elif fn == "max":
                comb = F.greatest(P, O)
            elif fn == "min":
                comb = F.least(P, O)
            else:
                comb = F.coalesce(P, O)
            # a tombstone among the new rows masks the old image: the
            # eligible suffix alone is the fresh value
            return F.when(F.col("_ht") == 1, P).otherwise(comb).alias(c)

        old_struct = F.when(
            has_old,
            F.struct(
                *(F.col(f"_o_{c}").alias(c) for c, t in val_cols)
            ),
        ).otherwise(_null_struct())
        staged = j.select(
            *key_cols,
            F.col("_ht"),
            F.col("_he"),
            has_old.alias("_ho"),
            old_struct.alias("_old"),
            F.struct(*(_img(c, t) for c, t in val_cols)).alias("_new"),
        )
        dead_mask = (F.col("_ht") == 1) & (F.col("_he") == 0)
        dels = staged.filter(dead_mask & F.col("_ho")).select(
            *key_cols,
            F.lit("delete").alias("change_type"),
            "_old",
            _null_struct().alias("_new"),
        )
        ups = (
            staged.filter(~dead_mask)
            .filter(~F.col("_old").eqNullSafe(F.col("_new")))
            .select(
                *key_cols,
                F.when(F.col("_ho"), F.lit("update"))
                .otherwise(F.lit("insert"))
                .alias("change_type"),
                "_old",
                "_new",
            )
        )
        return ups.unionByName(dels)
    if tr["kind"] == "mor":
        seq = tr["seq_col"]
        files = [f for grp in tr["new_groups"] for f in grp]
        gi = {  # commit order of the new groups, for latest-wins
            f: i for i, grp in enumerate(tr["new_groups"]) for f in grp
        }
        raw = spark.read.option("mergeSchema", "true").parquet(
            *(os.path.join(path, rel) for rel in files)
        )
        # materialize the path BEFORE the mapping projection (a renamed
        # frame can lose the scan's _metadata pseudo-column), then
        # translate physical file names to the logical schema (r13:
        # mapped MOR tables stream their delta log natively)
        raw = raw.withColumn("_fp", F.col("_metadata.file_path"))
        raw = _apply_mapping(raw, man.get("column_mapping"))
        ci_expr = F.element_at(
            F.split(F.col("_fp"), "/"), -2
        )  # token dir identifies the group
        tok = {os.path.basename(os.path.dirname(f)): i for f, i in gi.items()}
        ci = F.create_map(
            *(x for t, i in tok.items() for x in (F.lit(t), F.lit(i)))
        )[ci_expr]
        w = W.partitionBy(*key_cols).orderBy(
            ci.desc(), F.col(seq).desc()
        )
        latest = (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_fp")
        )
        # delete-capable chains (r13): a winning tombstone in the new
        # groups is a DELETE of its key — pre-image from the base
        # version, no _new side. Keys absent at base that were inserted
        # AND tombstoned within the range net to nothing.
        op = (man.get("mor") or {}).get("op_col")
        has_op = op is not None and op in latest.columns
        dead = None
        if has_op:
            del_mask = F.coalesce(
                F.col(op) == F.lit(MOR_DELETE_OP), F.lit(False)
            )
            dead = latest.filter(del_mask).drop(op)
            latest = latest.filter(~del_mask).drop(op)
        old = read_snapshot(spark, path, version=base_version)
        # prune the base to the changed keys with a broadcast semi-join
        # (one base scan, no base shuffle), then look up pre-images from
        # that sliver — the O(changes) exchange shape
        changed_keys = latest.select(*key_cols)
        if dead is not None:
            changed_keys = changed_keys.unionByName(
                dead.select(*key_cols)
            )
        old_small = old.join(
            F.broadcast(changed_keys.distinct()),
            key_cols,
            "left_semi",
        )
        d = latest.select(
            *key_cols, _vstruct(latest).alias("_new")
        )
        o = old_small.select(
            *key_cols, _vstruct(old_small).alias("_old")
        )
        j = d.join(F.broadcast(o), key_cols, "left_outer")
        ups = j.filter(~F.col("_old").eqNullSafe(F.col("_new"))).select(
            *key_cols,
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            "_old",
            "_new",
        )
        if dead is None:
            return ups
        dels = (
            dead.select(*key_cols)
            .join(F.broadcast(o), key_cols, "inner")
            .select(
                *key_cols,
                F.lit("delete").alias("change_type"),
                "_old",
                _null_struct().alias("_new"),
            )
        )
        return ups.unionByName(dels)
    if tr["kind"] == "dv":
        old_rels = [o for o, _ in tr["dv_changed"].values() if o]
        new_rels = [n for _, n in tr["dv_changed"].values()]
        doomed = _dv_rows(spark, path, new_rels)
        if old_rels:
            doomed = doomed.exceptAll(_dv_rows(spark, path, old_rels))
        touched = list(tr["dv_changed"])
        # forced manifest schema: deterministic on mixed-era file sets
        # (inference samples ONE footer) and no inference job
        df = spark.read.schema(
            _schema_ddl(_phys_schema(tr["manifest"]))
        ).parquet(
            *(os.path.join(path, rel) for rel in touched)
        )
        data = df.select(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
            .alias("_fname"),
            F.col("_metadata.row_index").alias("_pos"),
            "*",
        )
        hit = _apply_mapping(
            data.join(doomed, ["_fname", "_pos"], "left_semi")
            .drop("_fname", "_pos"),
            tr["manifest"].get("column_mapping"),
        )
        return hit.select(
            *key_cols,
            F.lit("delete").alias("change_type"),
            _vstruct(hit).alias("_old"),
            _null_struct().alias("_new"),
        )
    # rewrite / mixed range: generic diff-of-snapshots fallback
    return snapshot_changes(spark, path, base_version, version, key_cols)


def restore_snapshot(path: str, version: int) -> int:
    """RESTORE: re-commit a retained prior ``version``'s manifest as the
    table's NEW latest version (Delta's RESTORE / Iceberg's rollback).
    Pure metadata — zero data movement, the manifest's immutable file list
    is simply re-published under the next version number — and history is
    PRESERVED: the rolled-back-over versions remain time-travelable until
    ``vacuum_snapshots`` expires them, so a bad restore is itself
    restorable. Raises if ``version`` was never committed or already
    vacuumed. Returns the new version number."""
    import json
    import os
    import uuid

    versions = snapshot_versions(path)
    if version not in versions:
        raise FileNotFoundError(
            f"version {version} not committed (have {versions}) — vacuumed?"
        )
    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        man = json.load(f)
    man.pop("version", None)
    # ADVICE r11 (low): pass the restored manifest's OWN constraint /
    # generated maps explicitly (empty included) — _commit_manifest's
    # inherit-when-absent would otherwise attach the NEWEST maps to data
    # that was never validated against them (restoring a pre-constraint
    # version must restore the pre-constraint contract too; the
    # constraint can be re-added, which re-validates).
    man["constraints"] = man.get("constraints") or {}
    man["generated"] = man.get("generated") or {}
    # same for the schema-evolution markers: the restored version's own
    # reality (its files/schema pairing), never the newest version's
    man["widened"] = man.get("widened") or {}
    man["dropped"] = man.get("dropped") or []
    with open(os.path.join(_manifest_dir(path), f"v{versions[-1]}.json")) as f:
        latest_txn = json.load(f).get("txn")
    if latest_txn:
        # idempotence watermarks never regress: a restore that revived an
        # old txn map would let an at-least-once writer re-land a batch
        man["txn"] = latest_txn
    return _commit_manifest(path, man, uuid.uuid4().hex[:12])


def _tags_path(path: str) -> str:
    import os

    return os.path.join(_manifest_dir(path), "tags.json")


def _tags_dir(path: str) -> str:
    import os

    return os.path.join(_manifest_dir(path), "tags")


_TAG_NAME_RE = None  # compiled lazily


def _check_tag_name(name: str) -> None:
    import re

    global _TAG_NAME_RE
    if _TAG_NAME_RE is None:
        _TAG_NAME_RE = re.compile(r"^[A-Za-z0-9._-]+$")
    if not _TAG_NAME_RE.match(name) or name in (".", ".."):
        raise ValueError(
            f"invalid tag name {name!r}: use letters, digits, '.', '_', "
            "'-' (tag names are filenames in the per-tag store)"
        )


def list_tags(path: str) -> dict[str, int]:
    """{tag name: pinned version} for the table (empty if none). Reads
    the per-tag file store (``tags/<name>.json``, one O_EXCL-created file
    per tag — ADVICE r9: the shared read-modify-written ``tags.json``
    lost one of two concurrent taggers' updates) plus any legacy
    ``tags.json`` written by pre-r10 code."""
    import glob
    import json
    import os

    out: dict[str, int] = {}
    legacy = _tags_path(path)
    if os.path.exists(legacy):
        with open(legacy) as f:
            out.update({k: int(v) for k, v in json.load(f).items()})
    for p in glob.glob(os.path.join(_tags_dir(path), "*.json")):
        try:
            with open(p) as f:
                out[os.path.basename(p)[:-5]] = int(
                    json.load(f)["version"]
                )
        except (OSError, ValueError, KeyError):
            continue  # half-written by a crashed tagger: not a tag yet
    return out


def tag_snapshot(path: str, name: str, version: int | None = None) -> int:
    """Pin a committed version under a NAME (Iceberg tags): readers reach
    it with ``read_snapshot(..., tag=name)`` forever, and
    :func:`vacuum_snapshots` RETAINS tagged versions no matter how old —
    the compliance-snapshot / eval-baseline use case where "keep the last
    N versions" is the wrong retention rule. Tags are immutable:
    re-pointing requires :func:`drop_tag` first (silent repointing would
    change what an auditor's name means). Defaults to the latest
    version; returns the pinned version.

    Each tag is its own ``tags/<name>.json`` claimed by hard-linking a
    FULLY-WRITTEN attempt-unique tmp file onto the name (ADVICE r10: the
    r9 O_EXCL-create-then-write left an EMPTY file on a crash mid-write,
    which ``list_tags`` skips but whose existence wedged the name with a
    confusing "already pins vNone" until a manual drop_tag). With the
    link claim — the same atomicity mechanism as ``_commit_manifest`` —
    a tag file either doesn't exist or is complete; two racing taggers:
    one wins the link, the other reads the winner's pin and errors or
    no-ops."""
    import json
    import os
    import uuid

    _check_tag_name(name)
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"version {v} not committed (have {versions}) — vacuumed?"
        )
    tags = list_tags(path)
    if name in tags:
        if tags[name] != v:
            raise ValueError(
                f"tag {name!r} already pins v{tags[name]} — drop_tag "
                "first (tags are immutable names, not branches)"
            )
        return v  # idempotent re-pin of the same version
    tdir = _tags_dir(path)
    os.makedirs(tdir, exist_ok=True)
    tpath = os.path.join(tdir, f"{name}.json")
    tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex[:12]}.json")
    with open(tmp, "w") as f:
        json.dump({"version": v}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        for attempt in (0, 1):
            try:
                os.link(tmp, tpath)  # atomic claim of the name
                return v
            except FileExistsError:
                # claimed between list and link — by a live tagger
                # (valid file: compare pins) or by a crashed pre-link-era
                # tagger (empty/invalid corpse, invisible to list_tags:
                # clear it once and retry; a NEW-code file can never be
                # partial because the link publishes complete bytes)
                existing = list_tags(path).get(name)
                if existing == v:
                    return v
                if existing is not None:
                    raise ValueError(
                        f"tag {name!r} already pins v{existing} — "
                        "drop_tag first (tags are immutable names, not "
                        "branches)"
                    )
                if attempt == 0:
                    try:
                        os.unlink(tpath)
                    except FileNotFoundError:
                        pass
        raise ValueError(
            f"tag {name!r} is wedged by an unreadable tag file "
            f"({tpath}) — drop_tag and re-tag"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def drop_tag(path: str, name: str) -> None:
    """Remove a tag; the version it pinned becomes vacuum-expirable again
    (subject to the normal keep_last rule)."""
    import json
    import os
    import uuid

    tpath = os.path.join(_tags_dir(path), f"{name}.json")
    if os.path.exists(tpath):
        os.unlink(tpath)
        return
    # legacy tags.json entry (pre-r10 shared file)
    legacy = _tags_path(path)
    tags: dict[str, int] = {}
    if os.path.exists(legacy):
        with open(legacy) as f:
            tags = {k: int(v) for k, v in json.load(f).items()}
    if name not in tags:
        raise KeyError(
            f"no tag {name!r} on {path!r} (have {sorted(list_tags(path))})"
        )
    del tags[name]
    tmp = legacy + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(tags, f)
    os.replace(tmp, legacy)


# ---------------------------------------------------------------------------
# Snapshot BRANCHES (Iceberg branch refs on this layer's commit protocol).
#
# q89's WRITE-AUDIT-PUBLISH stages exactly ONE unpublished candidate;
# branches generalize it to N audited commits: a branch is a named
# manifest chain under _manifests/branches/<name>/ with its own b<K>.json
# numbering, FORKED from a committed main version (base.json records the
# fork point). Branch data files land in the shared data/<token>/ pool
# (immutable, manifest-referenced), so main readers never see them, and
# vacuum retains them exactly like main's (live branch manifests are
# retention roots). fast_forward publishes the branch HEAD as main's next
# version — metadata-only, the restore_snapshot shape — and, like
# Iceberg's fast-forward, REQUIRES that main has not moved past the fork
# point (a moved main needs a rebase/cherry-pick, which this layer
# deliberately doesn't guess at).
# ---------------------------------------------------------------------------


def _branches_dir(path: str) -> str:
    import os

    return os.path.join(_manifest_dir(path), "branches")


def _branch_dir(path: str, name: str) -> str:
    import os

    _check_tag_name(name)  # same filename-safe charset as tags
    return os.path.join(_branches_dir(path), name)


def list_branches(path: str) -> dict[str, dict]:
    """{branch name: {"base_version": N, "commits": K}} for every live
    branch (empty if none)."""
    import glob
    import json
    import os

    out: dict[str, dict] = {}
    for bdir in glob.glob(os.path.join(_branches_dir(path), "*")):
        base = os.path.join(bdir, "base.json")
        if not os.path.isdir(bdir) or not os.path.exists(base):
            continue
        try:
            with open(base) as f:
                bv = int(json.load(f)["base_version"])
        except (OSError, ValueError, KeyError):
            continue  # half-created by a crashed create_branch: not live
        out[os.path.basename(bdir)] = {
            "base_version": bv,
            "commits": len(branch_versions(path, os.path.basename(bdir))),
        }
    return out


def branch_versions(path: str, name: str) -> list[int]:
    """Branch-local commit numbers (b1, b2, …) in order; [] for a branch
    with no commits yet (its head is the fork-point version)."""
    import glob
    import os

    out = []
    for p in glob.glob(os.path.join(_branch_dir(path, name), "b*.json")):
        try:
            out.append(int(os.path.basename(p)[1:-5]))
        except ValueError:
            continue
    return sorted(out)


def create_branch(path: str, name: str, version: int | None = None) -> int:
    """Fork a BRANCH from a committed main ``version`` (default latest).
    The fork point is recorded atomically (tmp + hard-link claim, the tag
    protocol): two racing creators — one wins, the other errors unless it
    asked for the same fork point. The fork-point version becomes a
    retention root (vacuum keeps it while the branch lives). Returns the
    base version."""
    import json
    import os
    import uuid

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"version {v} not committed (have {versions}) — vacuumed?"
        )
    bdir = _branch_dir(path, name)
    os.makedirs(bdir, exist_ok=True)
    base = os.path.join(bdir, "base.json")
    tmp = os.path.join(bdir, f".tmp-{uuid.uuid4().hex[:12]}.json")
    with open(tmp, "w") as f:
        json.dump({"base_version": v}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, base)
    except FileExistsError:
        with open(base) as f:
            existing = int(json.load(f)["base_version"])
        if existing != v:
            raise ValueError(
                f"branch {name!r} already exists (forked at v{existing}) "
                "— drop_branch first"
            )
        return v  # idempotent re-create at the same fork point
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return v


def _branch_head_manifest(path: str, name: str) -> dict:
    import json
    import os

    bdir = _branch_dir(path, name)
    base = os.path.join(bdir, "base.json")
    if not os.path.exists(base):
        raise FileNotFoundError(
            f"no branch {name!r} on {path!r} "
            f"(have {sorted(list_branches(path))})"
        )
    bvs = branch_versions(path, name)
    if bvs:
        with open(os.path.join(bdir, f"b{bvs[-1]}.json")) as f:
            return json.load(f)
    with open(base) as f:
        bv = int(json.load(f)["base_version"])
    if bv not in snapshot_versions(path):
        raise FileNotFoundError(
            f"branch {name!r} fork point v{bv} was vacuumed — the branch "
            "is unreadable (vacuum retains fork points of LIVE branches; "
            "this one was created against an already-doomed version)"
        )
    return _load_manifest(path, bv)


def read_branch(
    spark: SparkSession, path: str, name: str
) -> DataFrame:
    """Read a branch's HEAD world: the last branch commit, or the fork
    point if the branch has no commits yet. Same isolation as
    :func:`read_snapshot` — one manifest resolve, immutable files."""
    return _manifest_df(spark, path, _branch_head_manifest(path, name))


def write_snapshot_to_branch(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    name: str,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
    enforce_schema: bool = True,
) -> int:
    """Commit ``df`` as the branch's next commit (b<K>) — main readers
    see NOTHING until :func:`fast_forward`. Modes mirror
    :func:`write_snapshot` (``overwrite`` / ``append`` against the BRANCH
    head); schema evolution is validated against the branch head under
    the same additive rule. Data files land in the shared immutable
    ``data/<token>/`` pool; the branch manifest hard-link is the commit
    point (b-number claimed optimistically, EEXIST retries — two branch
    writers serialize exactly like two main writers). Returns the
    branch-local commit number."""
    import glob
    import json
    import os
    import uuid

    prev = _branch_head_manifest(path, name)  # also validates the branch
    if (prev.get("mor") or prev.get("dv")) and mode == "append":
        # r13: an OVERWRITE branch commit replaces the fork point's
        # content wholesale, so a MOR/DV fork is fine (same rule as
        # write_snapshot overwrite on MOR); an APPEND would dodge delta
        # resolution / DV masking and stays refused
        raise ValueError(
            "branch append onto a MOR/DV fork point would dodge delta "
            "resolution: compact/purge on main first, or overwrite"
        )
    new_schema = {f.name: f.dataType.simpleString() for f in df.schema}
    if enforce_schema:
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"branch schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, new commit has "
                    f"{new_schema.get(col_name)!r}"
                )
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown branch write mode {mode!r}")
    if prev.get("generated"):
        df = _apply_generated(
            df, prev["generated"], prev.get("schema") or {},
            "write_snapshot_to_branch",
        )
        new_schema = {f.name: f.dataType.simpleString() for f in df.schema}
    if prev.get("constraints"):
        # a branch write that dodged CHECK enforcement would land on main
        # via fast_forward's metadata-only publish — enforce here, and
        # carry the map so the published manifest still declares it
        _enforce_constraints(
            df, prev["constraints"], "write_snapshot_to_branch"
        )
    mapping = (
        (prev.get("column_mapping") or {}) if mode == "append" else {}
    )
    if mapping:
        # same discipline as write_snapshot: appended files share the
        # table's PHYSICAL schema; an overwrite materializes the rename
        df = df.withColumnsRenamed(mapping)
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    carried = prev.get("files", []) if mode == "append" else []
    manifest = {"files": carried + new_files, "schema": new_schema}
    if mode == "overwrite":
        # fresh files shed narrow/tombstoned bytes — clear the markers
        # explicitly so fast_forward's publish cannot inherit main's
        # (the write_snapshot overwrite discipline)
        manifest["widened"], manifest["dropped"] = {}, []
    if mode == "append":
        # pruning survives the branch detour: carried files keep their
        # tuples, this commit's flat files map to None (never pruned)
        _carry_partition(prev, manifest, new_files)
    if mapping:
        manifest["column_mapping"] = mapping
    manifest = _inherit_contracts(manifest, prev)
    bdir = _branch_dir(path, name)
    tmp = os.path.join(bdir, f".tmp-{token}.json")
    while True:
        bv = (branch_versions(path, name) or [0])[-1] + 1
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        final = os.path.join(bdir, f"b{bv}.json")
        try:
            os.link(tmp, final)
        except FileExistsError:
            continue  # another branch writer claimed this number
        finally:
            if os.path.exists(final):
                os.unlink(tmp)
        return bv


def fast_forward(path: str, name: str, drop: bool = True) -> int:
    """Publish the branch HEAD as main's next version — pure metadata
    (the restore_snapshot shape: re-commit a manifest, zero data
    movement). REFUSES if main moved past the branch's fork point
    (Iceberg fast-forward semantics: a diverged main needs an explicit
    rebase, and silently overwriting its commits would be data loss).
    Main's txn watermark map carries forward (never regresses). Drops
    the branch afterwards by default. Returns main's new version."""
    import json
    import os
    import uuid

    bdir = _branch_dir(path, name)
    with open(os.path.join(bdir, "base.json")) as f:
        base_v = int(json.load(f)["base_version"])
    head = snapshot_versions(path)[-1]
    if head != base_v:
        raise ValueError(
            f"fast_forward refused: main moved v{base_v} -> v{head} since "
            f"branch {name!r} forked — rebase the branch (re-fork and "
            "re-apply) instead of overwriting main's commits"
        )
    if not branch_versions(path, name):
        if drop:
            drop_branch(path, name)
        return head  # nothing to publish: ff of an empty branch is a no-op
    manifest = dict(_branch_head_manifest(path, name))
    # watermarks never regress — and a branch that STAGED idempotent
    # CDC commits (r14: upsert_delta_snapshot/DML with txn= on a
    # branch) carries its own watermarks, which must survive the
    # publish or a redelivered batch would re-land on main. Per-app
    # max of both maps.
    merged_txn = dict(_load_manifest(path, head).get("txn") or {})
    for app, batch in (manifest.get("txn") or {}).items():
        merged_txn[app] = max(batch, merged_txn.get(app, batch))
    if merged_txn:
        manifest["txn"] = merged_txn
    v = _commit_manifest(path, manifest, uuid.uuid4().hex[:12])
    if drop:
        drop_branch(path, name)
    return v


def drop_branch(path: str, name: str) -> None:
    """Remove a branch: its manifests stop being retention roots, so its
    unpublished data files become vacuum-reclaimable (exactly like an
    abandoned WAP stage)."""
    import os
    import shutil

    bdir = _branch_dir(path, name)
    if not os.path.exists(os.path.join(bdir, "base.json")):
        raise KeyError(
            f"no branch {name!r} on {path!r} "
            f"(have {sorted(list_branches(path))})"
        )
    shutil.rmtree(bdir, ignore_errors=True)


def vacuum_snapshots(
    path: str,
    keep_last: int = 1,
    tmp_retention_sec: float = 3600.0,
    older_than: float | None = None,
) -> int:
    """Expire all but the newest ``keep_last`` versions: drop their
    manifests, then delete every data file no retained manifest
    references (including files orphaned by crashed commits). Returns the
    number of files removed. Time travel to an expired version then
    raises — the read/retention contract every table format shares.
    Versions pinned by a TAG (:func:`tag_snapshot`) are ALWAYS retained,
    regardless of age.

    ``older_than`` (unix instant, r11 — Iceberg's
    ``expire_snapshots(older_than, retain_last)``): ALSO retain every
    version committed at or after the instant, so retention can be
    stated in TIME ("keep 7 days") instead of commit count — the policy
    that actually bounds change-feed consumer lag, since lag is measured
    in wall-clock, not versions. ``keep_last`` stays the floor: the
    newest N survive even if older than the instant. Commit instants
    come from the manifests' ``committed_at`` (file mtime for pre-r9
    manifests — the same fallback as ``version_asof``).

    ``*.tmp`` files (task attempts / in-flight DV sidecars written
    immediately before their ``os.replace``) are reclaimed only when
    older than ``tmp_retention_sec`` (ADVICE r9: an un-aged sweep could
    unlink a CONCURRENT writer's in-flight tmp and fail its commit
    mid-job; an hour bounds orphan lifetime without racing any live
    attempt)."""
    import glob
    import json
    import os
    import shutil
    import time

    versions = snapshot_versions(path)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    if older_than is not None:
        for v in versions:
            mpath = os.path.join(_manifest_dir(path), f"v{v}.json")
            try:
                with open(mpath) as f:
                    ct = json.load(f).get("committed_at")
                if ct is None:
                    ct = os.path.getmtime(mpath)
            except OSError:
                continue  # racing vacuum already took it
            if float(ct) >= older_than:
                keep.add(v)
    keep |= {v for v in list_tags(path).values() if v in versions}
    # live BRANCHES are retention roots twice over: their fork-point main
    # version stays readable (fast_forward's divergence check and an
    # empty branch's head both need it), and every branch manifest's
    # files are live exactly like main's
    branch_info = list_branches(path)
    keep |= {
        b["base_version"] for b in branch_info.values()
        if b["base_version"] in versions
    }
    referenced: set[str] = set()

    def _retain(mpath: str) -> None:
        with open(mpath) as f:
            m = json.load(f)
        referenced.update(m["files"])
        referenced.update((m.get("dv") or {}).values())
        for grp in (m.get("mor") or {}).get("deltas", []):
            referenced.update(grp)  # live delta chains survive vacuum

    for bname in branch_info:
        for bv in branch_versions(path, bname):
            _retain(
                os.path.join(_branch_dir(path, bname), f"b{bv}.json")
            )

    doomed = []
    for v in versions:
        mpath = os.path.join(_manifest_dir(path), f"v{v}.json")
        if v in keep:
            _retain(mpath)
        else:
            doomed.append((v, mpath))
    for v, mpath in doomed:
        # ADVICE r9: a tag (or branch fork, r11) created while this
        # vacuum ran must protect its version — re-read the (per-file,
        # atomically created) ref stores immediately before each expiry
        # instead of trusting the snapshot taken at entry.
        live_refs = set(list_tags(path).values()) | {
            b["base_version"] for b in list_branches(path).values()
        }
        if v in live_refs:
            _retain(mpath)
            continue
        os.unlink(mpath)
    removed = 0
    now = time.time()

    def _stale_tmp(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) > tmp_retention_sec
        except OSError:
            return False  # already gone: its writer finished or cleaned up

    for d in glob.glob(os.path.join(path, "data", "*")):
        # *.tmp are crashed task attempts — never referenced by any
        # manifest — but a YOUNG tmp may be a concurrent writer's
        # in-flight attempt (ADVICE r9): only stale tmps are reclaimable,
        # and a fresh one keeps its directory alive.
        # Globs are RECURSIVE (r11): hive-partitioned commits nest their
        # files under _p<i>=... subdirs — a one-level glob saw such a
        # token dir as empty and rmtree'd it with live data inside.
        tmps = glob.glob(os.path.join(d, "**", "*.tmp"), recursive=True)
        fresh_tmps = [p for p in tmps if not _stale_tmp(p)]
        files = (
            glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            + glob.glob(os.path.join(d, "**", "*.dv"), recursive=True)
            + [p for p in tmps if p not in set(fresh_tmps)]
        )
        live = [p for p in files if os.path.relpath(p, path) in referenced]
        if not live and not fresh_tmps:
            # nothing in this write survives — drop the whole directory,
            # commit markers (_SUCCESS) included
            removed += len(files)
            shutil.rmtree(d, ignore_errors=True)
            continue
        for p in files:
            if os.path.relpath(p, path) not in referenced:
                os.unlink(p)
                removed += 1
    return removed


# ---------------------------------------------------------------------------
# Manifest column statistics → planning-time file skipping
# ---------------------------------------------------------------------------

#: stats value encoding, by python type of the parquet min/max: numerics
#: stay native JSON, dates/timestamps/strings become ISO/UTF-8 strings
#: (ISO order == chronological order, so string compare prunes correctly)
def _stat_encode(v):
    import datetime as _dt
    import decimal as _dec

    if v is None or isinstance(v, (int, float)):
        return v
    if isinstance(v, _dec.Decimal):
        return float(v)  # keep numeric compare semantics (JSON-safe)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def collect_file_stats(files: list[str], root: str, cols: list[str]) -> dict:
    """Per-file min/max of ``cols`` read from parquet FOOTERS (row-group
    statistics the writer already computed — no data pages are touched,
    one metadata read per file). Returns {relpath: {col: [min, max]}};
    a column absent from a file's schema or lacking stats is simply
    omitted, which readers must treat as "cannot prune"."""
    import os

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in files:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for col in cols:
            if col not in idx:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[col]).statistics
                if s is None or not s.has_min_max:
                    ok = False
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if ok and lo is not None:
                stats[col] = [_stat_encode(lo), _stat_encode(hi)]
        out[rel] = stats
    return out


def write_snapshot_with_stats(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stats_cols: list[str],
    range_col: str | None = None,
    n_files: int = 8,
    compression: str = PARQUET_CODEC,
) -> int:
    """:func:`write_snapshot` with per-file min/max statistics (the
    Iceberg/Delta data-skipping idea on this layer's manifests). Pass
    ``range_col`` to range-cluster the files on that column first
    (``repartitionByRange`` → near-disjoint per-file value ranges) —
    that clustering is what makes the stats selective; stats over a
    random layout prune nothing. Same commit protocol: one
    implementation (write_snapshot), so the stats path can never drift
    from the crash/concurrency contract the snapshot tests pin."""
    if range_col is not None:
        df = df.repartitionByRange(n_files, range_col)
    return write_snapshot(
        spark, df, path, compression=compression, stats_cols=stats_cols
    )


def read_snapshot_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
    tag: str | None = None,
    asof: float | None = None,
) -> DataFrame:
    """Snapshot read that SKIPS every file whose manifest [min,max] for
    ``col`` cannot intersect [lo, hi] — file skipping decided from the
    manifest alone, before Spark ever lists or opens a file (at 100 TB
    the footer round-trips this saves dominate short queries). The
    surviving files still get the row-level ``BETWEEN`` filter (stats
    bound files, they don't bound rows), so the result is exactly
    ``read_snapshot(...).filter(col BETWEEN lo AND hi)`` regardless of
    how selective — or absent — the stats are. Files with no stats for
    ``col`` are always read.

    MOR tables (r9): when ``col`` is one of the table's MOR KEY columns,
    base files and every delta group are pruned INDEPENDENTLY before
    latest-wins resolution — sound because a key column is constant
    across all commits of a key (see the inline soundness note). On a
    non-key column the read falls back to resolve-then-filter.

    ``tag`` / ``asof`` select the version by name or commit instant,
    same contract as :func:`read_snapshot`."""
    import json
    import os

    from pyspark.sql import functions as F

    version = _resolve_selector(path, version, tag, asof)
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} not committed (have {versions}) — vacuumed?"
        )
    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        manifest = json.load(f)
    stats = manifest.get("stats", {})
    elo, ehi = _stat_encode(lo), _stat_encode(hi)
    if manifest.get("mor"):
        # MOR file skipping is SOUND only on a KEY column: a key's value
        # in a key column is identical across every commit of that key,
        # so all rows of an in-range key live in range-intersecting files
        # (the winner is computed from the full row set) and pruned files
        # hold only out-of-range keys, whose winner the row filter drops
        # regardless. A NON-key column's value can change between commits
        # of one key — skipping an old commit's file would resurrect a
        # superseded row as the apparent winner — so those fall back to
        # the resolved read + row filter (the contract's definition).
        mor = manifest["mor"]
        if col not in mor["key_cols"] or not stats:
            return read_snapshot(spark, path, version).filter(
                F.col(col).between(lo, hi)
            )

        def _survivors(rels):
            return [
                rel
                for rel in rels
                if (s := stats.get(rel, {}).get(col)) is None
                or not (s[1] < elo or s[0] > ehi)
            ]

        keep_base = _survivors(manifest["files"])
        keep_groups = [_survivors(grp) for grp in mor["deltas"]]
        if not keep_base and not any(keep_groups):
            return read_snapshot(spark, path, version).filter(F.lit(False))
        pruned = {
            "files": keep_base,
            "schema": manifest["schema"],
            # empty groups stay in place: _resolve_mor keeps commit rank
            # aligned by position
            "mor": {**mor, "deltas": keep_groups},
        }
        for carry in ("column_mapping", "widened", "dropped"):
            if manifest.get(carry):
                pruned[carry] = manifest[carry]
        return _resolve_mor(spark, path, pruned).filter(
            F.col(col).between(F.lit(lo), F.lit(hi))
        )
    keep = []
    for rel in manifest["files"]:
        s = stats.get(rel, {}).get(col)
        if s is None or not (s[1] < elo or s[0] > ehi):
            keep.append(rel)
    if not keep:  # nothing can match; keep the schema without touching IO
        return (
            read_snapshot(spark, path, version)
            .filter(F.lit(False))
        )
    # DV-aware over the surviving files (stats of a DV-carrying file are
    # upper bounds, so the manifest pruning above stays conservative)
    data, cols = _scan_with_pos(
        spark, path, keep, manifest.get("dv") or {},
        force_schema=_phys_schema(manifest),
    )
    # renamed tables: stats keys are already logical (rename_column
    # re-keys them), the scanned frame is physical — translate before
    # the row filter so `col` means the same name end to end
    return _apply_mapping(
        data.select(*cols), manifest.get("column_mapping")
    ).filter(F.col(col).between(F.lit(lo), F.lit(hi)))


# ---------------------------------------------------------------------------
# File-level bloom index → point-lookup file skipping
# ---------------------------------------------------------------------------

#: bits / probes per FILE bloom (vs dedup's corpus-level 8 Mbit filter):
#: 2^17 bits ≈ 16 KiB dense, stored sparse — sized for ~10k distinct keys
#: per file at ~1% fpr; size up with file cardinality
BLOOM_IDX_M = 1 << 17
BLOOM_IDX_K = 5


def _bloom_index_path(path: str, col: str) -> str:
    import os

    return os.path.join(path, f"_bloom_{col}.json")


def build_bloom_index(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = BLOOM_IDX_M,
    k: int = BLOOM_IDX_K,
) -> int:
    """Build a per-FILE bloom sidecar over ``col`` for the parquet table
    at ``path`` — the min/max-stats complement for POINT lookups on
    columns where range stats prune nothing (high-cardinality ids spread
    across every file). Entirely distributed: each row explodes to its k
    probe positions (same double-hash math as dedup's corpus bloom,
    ``pos_i = (h1 + i*h2) mod m`` with pmod-before-combine so ANSI longs
    never overflow), positions OR into 64-bit words with one map-side-
    combinable bit_or keyed on (file, word) — the shuffle is bounded by
    files × m/64 words, not by rows — and only the sparse non-zero words
    reach the driver. Writes ``_bloom_<col>.json`` atomically
    (tmp + rename); returns the number of files indexed.

    At 100 TB: a 16 KiB-dense / sparser-in-practice bitmap per 128 MB
    file is ~0.01% storage overhead, and a point lookup touches only the
    files whose filter fires (expected 1 + fpr·files)."""
    import json
    import os
    import uuid

    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("_file"), F.col(col).alias("_v"))
        # null keys can't be point-looked-up (isin drops them) and would
        # poison the word aggregate with null positions — exclude at build
        .filter(F.col("_v").isNotNull())
    )
    h1, h2 = F.xxhash64("_v"), F.xxhash64(F.lit(1), F.col("_v"))
    r1, r2 = F.pmod(h1, F.lit(m_bits)), F.pmod(h2, F.lit(m_bits))
    pos = F.explode(
        F.array(*[F.pmod(r1 + F.lit(i) * r2, F.lit(m_bits)) for i in range(k)])
    ).alias("_p")
    words = (
        df.select("_file", pos)
        .select(
            "_file",
            (F.col("_p") / 64).cast("long").alias("_w"),
            F.expr("shiftleft(1L, CAST(pmod(_p, 64) AS INT))").alias("_b"),
        )
        .groupBy("_file", "_w")
        .agg(F.bit_or("_b").alias("_word"))
        .collect()
    )
    index: dict[str, dict[str, int]] = {}
    for r in words:
        rel = os.path.relpath(r["_file"].removeprefix("file://"), path)
        index.setdefault(rel, {})[str(r["_w"])] = r["_word"]
    meta = {"col": col, "m_bits": m_bits, "k": k, "files": index}
    tmp = _bloom_index_path(path, col) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _bloom_index_path(path, col))
    return len(index)


def read_bloom_pruned(
    spark: SparkSession, path: str, col: str, values: list
) -> DataFrame:
    """Point lookup through the bloom sidecar: read ONLY the files whose
    filter fires for at least one of ``values``, then apply the exact
    ``IN`` predicate (bloom positives are candidates, never answers).
    Files missing from the sidecar are always read — the index is an
    optimization, never a correctness dependency. A value the filter
    rejects everywhere costs ZERO file reads.

    Probe hashes come from a one-row Spark job over the SAME xxhash64
    expressions the build used — the JVM is the single hashing authority,
    so build and probe can never drift (the dedup bloom's lesson,
    mirrored here)."""
    import json
    import os

    from pyspark.sql import functions as F

    with open(_bloom_index_path(path, col)) as f:
        meta = json.load(f)
    m_bits, k = meta["m_bits"], meta["k"]
    values = [v for v in values if v is not None]
    if not values:  # nothing matchable; keep the schema without IO
        return spark.read.parquet(path).filter(F.lit(False))
    probe = spark.createDataFrame([(v,) for v in values]).toDF("_v")
    h1, h2 = F.xxhash64("_v"), F.xxhash64(F.lit(1), F.col("_v"))
    r1, r2 = F.pmod(h1, F.lit(m_bits)), F.pmod(h2, F.lit(m_bits))
    rows = probe.select(
        F.array(
            *[F.pmod(r1 + F.lit(i) * r2, F.lit(m_bits)) for i in range(k)]
        ).alias("_ps")
    ).collect()
    all_files = sorted(meta["files"])
    # r11 verdict #8: vectorize the files × values membership fold — at
    # 10^6 files × many probe values the per-bit python loop was the
    # slowest driver loop in the repo. One uint64 matrix per sidecar
    # (files × words, sparse words densified once), one gather per probe.
    import numpy as np

    n_words = (m_bits + 63) // 64
    mat = np.zeros((len(all_files), n_words), dtype=np.uint64)
    for fi, rel in enumerate(all_files):
        for w, bits in meta["files"][rel].items():
            mat[fi, int(w)] = np.uint64(bits & ((1 << 64) - 1))
    probes = np.array([r["_ps"] for r in rows], dtype=np.int64)  # v × k
    word_idx = probes // 64                       # v × k
    bit = np.uint64(1) << (probes % 64).astype(np.uint64)
    # files × values × k: does every probe bit fire?
    fired = (mat[:, word_idx] & bit) != 0
    hit_any = fired.all(axis=2).any(axis=1)       # files: any value all-k
    keep: set[str] = {
        rel for fi, rel in enumerate(all_files) if hit_any[fi]
    }
    # files on disk but absent from the sidecar are unindexed: always read.
    # The reverse skew — sidecar entries whose files were REWRITTEN AWAY
    # (compaction/merge without an index rebuild) — must not crash the
    # read: drop them; their rows live in the successor files, which are
    # unindexed and therefore read. Either skew only costs pruning, never
    # correctness; rebuild the sidecar after rewrites to get it back.
    import glob

    on_disk = {
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }
    keep &= on_disk
    keep |= on_disk - set(all_files)
    if not keep:
        return spark.read.parquet(path).filter(F.lit(False))
    return (
        spark.read.parquet(*(os.path.join(path, rel) for rel in sorted(keep)))
        .filter(F.col(col).isin(values))
    )


# ---------------------------------------------------------------------------
# Snapshot-NATIVE bloom index: the q68 sidecar grown into a table-format
# citizen. Per-file blooms keyed by MANIFEST rel paths, refreshed
# incrementally (only live files missing from the sidecar are scanned),
# and consulted by the DML probe planners — the high-cardinality
# complement of min/max stats: on a hash-ordered key (UUIDs) every file
# spans the whole key range and range stats prune NOTHING, while a bloom
# proves "this file contains none of these keys" per file.
#
# Deliberately NOT manifest-committed (unlike the ANN index, whose probe
# view must be all-or-nothing): bloom admission is a conservative
# SUPERSET by construction — files absent from the sidecar are always
# read, entries for files rewritten away are ignored — so sidecar
# visibility needs no transaction. A crashed refresh leaves the previous
# sidecar intact (tmp + os.replace); a stale sidecar only costs pruning,
# never correctness. The one hard invariant is HASH IDENTITY between
# build and probe: both hash values CAST TO THE COMMITTED LOGICAL TYPE
# with the same JVM xxhash64 expressions, and the sidecar records that
# type — a type-widened table invalidates the sidecar wholesale (Spark
# hashes int and bigint differently) until the next refresh rebuilds it.
# ---------------------------------------------------------------------------


def _snap_bloom_dir(path: str, col: str) -> str:
    import os

    return os.path.join(path, "bloom", col)


def _snap_bloom_path(path: str, col: str) -> str:
    import os

    return os.path.join(_snap_bloom_dir(path, col), "meta.json")


def _file_uri_to_path(uri: str) -> str:
    """``file:/a``, ``file://host/a`` and ``file:///a`` all → ``/a``
    (``_metadata.file_path`` uses one slash, ``input_file_name`` three)."""
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


def _snap_bloom_meta(path: str, col: str, man: dict) -> dict | None:
    """Load the snapshot bloom sidecar's META for ``col`` if it is
    USABLE under ``man``: present, parseable, and built under the
    manifest's current committed type for the column. Anything else
    returns None — the caller plans as if no sidecar existed
    (conservative). ``meta["files"]`` is returned as a SET of indexed
    rel paths."""
    import json
    import os

    p = _snap_bloom_path(path, col)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    if meta.get("type") != (man.get("schema") or {}).get(col):
        return None  # widened/retyped since the build: hashes diverge
    meta["files"] = set(meta.get("files") or [])
    return meta


def _bloom_live_rels(man: dict, col: str) -> list[str]:
    """The manifest's live data rel paths a bloom over ``col`` must
    cover: base files, plus the whole delta chain on MOR — where ``col``
    must be a MOR KEY column (the read_snapshot_pruned key-closure rule:
    a key's rows, tombstones included, live only in files whose bloom
    fires for it, so dropping non-firing files cannot change that key's
    latest-wins winner; a non-key column's value can move between
    commits of one key and would resurrect superseded rows)."""
    mor = man.get("mor")
    rels = list(man["files"])
    if mor:
        if col not in mor["key_cols"]:
            raise ValueError(
                f"bloom over {col!r} on a MOR table: only key columns "
                f"{mor['key_cols']} can bloom-prune a delta chain "
                "soundly (non-key values move between commits of a key)"
            )
        rels += [rel for grp in mor["deltas"] for rel in grp]
    return rels


#: the words table's one schema — written only by _bloom_word_frame
#: below; readers force it so no probe/compact pays a schema-inference
#: job (guide §6)
_BLOOM_WORDS_DDL = "`rel` string, `w` bigint, `word` bigint"


def _bloom_word_frame(
    spark, path: str, man: dict, rels: list[str], col: str,
    m_bits: int, k: int,
):
    """(rel, w, word) bloom words for ``rels``, computed ENTIRELY
    executor-side: rows explode to their k probe positions (pmod before
    combine — ANSI longs never overflow), positions OR into 64-bit
    words with a map-side-combinable bit_or keyed on (file, word), and
    the rel path is derived from ``_metadata.file_path`` in the scan
    itself — no row, word or path ever round-trips the driver."""
    import os

    from pyspark.sql import functions as F

    ctype = man["schema"][col]
    mapping = man.get("column_mapping") or {}
    phys = mapping.get(col, col)
    force = _phys_schema(man)
    reader = spark.read
    if force:
        reader = reader.schema(_schema_ddl(force))
    prefix = os.path.abspath(path) + os.sep
    df = (
        reader.parquet(*(os.path.join(path, rel) for rel in rels))
        .select(
            F.substring(
                F.regexp_replace(
                    F.col("_metadata.file_path"), r"^file:/{0,2}", "/"
                ),
                len(prefix) + 1,
                1_000_000,
            ).alias("rel"),
            F.col(phys).cast(ctype).alias("_v"),
        )
        # NULLs can't be point-looked-up (IN/join semantics) — a file
        # of only NULLs contributes no words and rejects every key,
        # which is exactly right
        .filter(F.col("_v").isNotNull())
    )
    h1, h2 = F.xxhash64("_v"), F.xxhash64(F.lit(1), F.col("_v"))
    r1 = F.pmod(h1, F.lit(m_bits))
    r2 = F.pmod(h2, F.lit(m_bits))
    pos = F.explode(
        F.array(
            *[F.pmod(r1 + F.lit(i) * r2, F.lit(m_bits)) for i in range(k)]
        )
    ).alias("_p")
    return (
        df.select("rel", pos)
        .select(
            "rel",
            (F.col("_p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(_p, 64) AS INT))").alias("_b"),
        )
        .groupBy("rel", "w")
        .agg(F.bit_or("_b").alias("word"))
    )


def index_bloom_snapshot(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = BLOOM_IDX_M,
    k: int = BLOOM_IDX_K,
) -> dict:
    """Build or INCREMENTALLY refresh the file-level bloom sidecar for a
    SNAPSHOT table column (:func:`build_bloom_index`'s raw-parquet shape
    grown manifest-aware): index the LATEST manifest's live files — base
    and, for a key column, the MOR delta chain — scanning ONLY the live
    files missing from the existing sidecar; entries whose files left
    the manifest (compaction, COW rewrites, vacuumed versions) stop
    being indexed. A daily refresh after the nightly append therefore
    costs O(new files), never a table rescan.

    SCALE SHAPE: the sidecar's (rel, word-index, word) rows live as a
    PARQUET table under ``bloom/<col>/words-*/`` — written by Spark,
    read by Spark, joined distributed at probe time — while
    ``meta.json`` holds only the indexed-file list (manifest-scale, the
    same O(files) every commit already carries) and is the atomic
    commit point (tmp + replace). Nothing row- or word-shaped ever
    reaches the driver, so a million-file table indexes and probes
    without a driver bottleneck (the r13 probe_index lesson applied to
    file skipping). A refresh that finds >half the indexed files dead
    COMPACTS the words table (semi-join against the carried files into
    a fresh directory); a crash anywhere leaves the previous meta
    intact and at worst an orphan ``words-*`` directory, swept by the
    next refresh.

    Values are read under the FORCED committed physical schema (narrow
    old files upcast in the vectorized scan, column-mapped tables
    harvested by physical name) and hashed at the committed logical
    type — meta records that type and :func:`_snap_bloom_meta` refuses
    to use the sidecar after a widening until this verb rebuilds.
    Returns ``{"indexed", "carried", "dropped", "files", "version"}``."""
    import glob
    import json
    import os
    import shutil
    import uuid

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    schema = man.get("schema") or {}
    if col not in schema:
        raise ValueError(
            f"column {col!r} not in committed schema {sorted(schema)}"
        )
    live = _bloom_live_rels(man, col)

    old = _snap_bloom_meta(path, col, man)
    if old is not None and (old["m_bits"] != m_bits or old["k"] != k):
        old = None  # parameter change: full rebuild under the new shape
    old_files = old["files"] if old else set()
    carried = [rel for rel in live if rel in old_files]
    missing = [rel for rel in live if rel not in old_files]
    dropped = len(old_files) - len(carried)

    bdir = _snap_bloom_dir(path, col)
    os.makedirs(bdir, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    compact = old is not None and dropped > len(old_files) // 2
    if old is None or compact:
        # fresh words directory: first build, rebuild, or a compaction
        # folding the carried files' words in with the new batch
        words_dir = f"words-{token}"
        parts = []
        if missing:
            parts.append(
                _bloom_word_frame(spark, path, man, missing, col, m_bits, k)
            )
        if compact and carried:
            old_words = spark.read.schema(_BLOOM_WORDS_DDL).parquet(
                os.path.join(bdir, old["words_dir"])
            )
            keep = spark.createDataFrame(
                [(r,) for r in carried], "rel string"
            )
            parts.append(old_words.join(keep, "rel", "left_semi"))
        if parts:
            out = parts[0]
            for extra in parts[1:]:
                out = out.unionByName(extra)
            out.write.mode("error").parquet(os.path.join(bdir, words_dir))
        else:
            os.makedirs(os.path.join(bdir, words_dir), exist_ok=True)
    else:
        # append the new batch's part files into the existing directory
        # (attempt-unique names: a crashed refresh never collides)
        words_dir = old["words_dir"]
        if missing:
            tmp = os.path.join(bdir, f".tmp-{token}")
            _bloom_word_frame(
                spark, path, man, missing, col, m_bits, k
            ).write.mode("error").parquet(tmp)
            os.makedirs(os.path.join(bdir, words_dir), exist_ok=True)
            for i, part in enumerate(
                sorted(glob.glob(os.path.join(tmp, "*.parquet")))
            ):
                os.replace(
                    part,
                    os.path.join(bdir, words_dir, f"{token}-{i}.parquet"),
                )
            shutil.rmtree(tmp, ignore_errors=True)
    meta = {
        "col": col,
        "type": schema[col],
        "m_bits": m_bits,
        "k": k,
        "version": versions[-1],
        "words_dir": words_dir,
        "files": carried + missing,
    }
    tmp_meta = _snap_bloom_path(path, col) + f".tmp-{token}"
    with open(tmp_meta, "w") as f:
        json.dump(meta, f)
    os.replace(tmp_meta, _snap_bloom_path(path, col))
    # sweep words directories no meta references (orphans of crashed
    # refreshes / superseded by a compaction) — safe AFTER the meta
    # replace: concurrent readers resolved their directory from a meta
    # they already loaded, and either meta names a complete directory
    for d in glob.glob(os.path.join(bdir, "words-*")):
        if os.path.basename(d) != words_dir:
            shutil.rmtree(d, ignore_errors=True)
    return {
        "indexed": len(missing),
        "carried": len(carried),
        "dropped": dropped,
        "files": len(live),
        "version": versions[-1],
    }


def list_bloom_indexes(path: str) -> list[str]:
    """Columns with a committed snapshot bloom sidecar under ``path``
    (a ``bloom/<col>/meta.json`` exists)."""
    import glob
    import os

    return sorted(
        os.path.basename(os.path.dirname(p))
        for p in glob.glob(os.path.join(path, "bloom", "*", "meta.json"))
    )


def refresh_bloom_indexes(spark: SparkSession, path: str) -> dict:
    """Refresh EVERY snapshot bloom sidecar on the table — the one-call
    maintenance tail for OPTIMIZE / compaction / nightly-append jobs
    (each rewrite leaves its new files unindexed, which is correct but
    unpruned; this restores skipping in O(new files) per column).
    Sidecar parameters (m_bits/k) carry; a sidecar whose committed type
    moved is rebuilt by :func:`index_bloom_snapshot`'s own rule. A
    column that can no longer be indexed (dropped from the schema, or
    the table became MOR on other key columns) is reported, not raised
    — maintenance sweeps must not die on one stale sidecar. Returns
    ``{col: refresh report | {"error": msg}}``."""
    import json

    out: dict[str, dict] = {}
    for col in list_bloom_indexes(path):
        try:
            with open(_snap_bloom_path(path, col)) as f:
                prev = json.load(f)
            out[col] = index_bloom_snapshot(
                spark, path, col,
                m_bits=prev.get("m_bits", BLOOM_IDX_M),
                k=prev.get("k", BLOOM_IDX_K),
            )
        except (ValueError, OSError) as e:
            out[col] = {"error": str(e)}
    return out


def _bloom_admitted_files(
    spark, path: str, col: str, meta: dict, keys_df, pin_masks: bool = True
) -> set:
    """DISTRIBUTED bloom membership: which indexed files admit at least
    one key in ``keys_df`` (single ``_v`` column, already cast to the
    sidecar's type). No key or word ever reaches the driver — keys
    reduce to their two xxhash64 words, explode to k probe positions,
    fold per (key, word) into needed-bit masks, and equi-join the
    words PARQUET table on the word index; a (key, file) pair is
    admitted when every probed word has all its needed bits
    ((word & mask) = mask — an absent sparse word is simply no row and
    rejects). Only the admitted rel list — bounded by |files|, never
    |keys| — is collected. A CDC merge therefore probes with millions
    of source keys: masks are |keys| × ≤k rows, the join shuffles on
    the word index. Entries for files no longer indexed are harmless
    (callers intersect with their own rel lists)."""
    import glob
    import os

    from pyspark.sql import functions as F

    m_bits, k = meta["m_bits"], meta["k"]
    wdir = os.path.join(_snap_bloom_dir(path, meta["col"]), meta["words_dir"])
    if not glob.glob(os.path.join(wdir, "*.parquet")):
        return set()  # nothing indexed has any value (all-null files)
    idx = spark.read.schema(_BLOOM_WORDS_DDL).parquet(wdir)
    base = (
        keys_df.filter(F.col("_v").isNotNull())
        .select(
            F.xxhash64("_v").alias("_h1"),
            F.xxhash64(F.lit(1), F.col("_v")).alias("_h2"),
        )
        .distinct()
    )
    r1 = F.pmod(F.col("_h1"), F.lit(m_bits))
    r2 = F.pmod(F.col("_h2"), F.lit(m_bits))
    pos = F.explode(
        F.array(
            *[F.pmod(r1 + F.lit(i) * r2, F.lit(m_bits)) for i in range(k)]
        )
    ).alias("_p")
    masks = (
        base.select("_h1", "_h2", pos)
        .select(
            "_h1",
            "_h2",
            (F.col("_p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(_p, 64) AS INT))").alias("_b"),
        )
        .groupBy("_h1", "_h2", "w")
        .agg(F.bit_or("_b").alias("mask"))
    )
    if pin_masks:
        # consumed TWICE (the need count and the words join): pin the
        # |keys| × ≤k rows once so a million-key CDC batch's distinct +
        # hash + explode never runs a second time. Point lookups
        # (``pin_masks=False``: a handful of literal values in a local
        # relation) skip the pin — recomputing the tiny local plan is
        # free, and the eager checkpoint costs a whole extra
        # driver-blocking job per probe (r14, guide §1.2)
        masks = masks.localCheckpoint(eager=True)
    need = masks.groupBy("_h1", "_h2").agg(F.count("*").alias("need"))
    admitted = (
        masks.join(idx, "w")
        .where(F.expr("(word & mask) = mask"))
        .groupBy("_h1", "_h2", "rel")
        .agg(F.count("*").alias("got"))
        .join(need, ["_h1", "_h2"])
        .where("got = need")
        .select("rel")
        .distinct()
        .collect()
    )
    return {r["rel"] for r in admitted}


def _bloom_point_keep(
    spark, path: str, man: dict, col: str, values: list, rels: list[str]
) -> list[str]:
    """Filter ``rels`` to the files that can contain ``col IN values``
    per the snapshot bloom sidecar: indexed files must be admitted,
    unindexed files always survive (advice, not truth). No usable
    sidecar → ``rels`` unchanged."""
    from pyspark.sql import functions as F

    meta = _snap_bloom_meta(path, col, man)
    if meta is None:
        return list(rels)
    vals = [v for v in values if v is not None]
    if not vals:
        return [rel for rel in rels if rel not in meta["files"]]
    keys = spark.createDataFrame([(v,) for v in vals]).toDF("_v").select(
        F.col("_v").cast(meta["type"]).alias("_v")
    )
    # literal point values = a local relation: recomputation is free,
    # skip the masks pin's extra driver-blocking job
    adm = _bloom_admitted_files(
        spark, path, col, meta, keys, pin_masks=False
    )
    return [rel for rel in rels if rel not in meta["files"] or rel in adm]


def _mor_bloom_point_pruned(
    spark, path: str, man: dict, col: str, values: list
):
    """Bloom-point-prune a MOR manifest's base files AND delta chain
    (the :func:`_mor_pruned_manifest` shape, membership form): ``col``
    must be a MOR key column (:func:`_bloom_live_rels` raises
    otherwise). Returns (pruned manifest, files surviving, files
    total). Empty groups stay positionally (commit rank alignment)."""
    rels = _bloom_live_rels(man, col)
    keep = set(_bloom_point_keep(spark, path, man, col, values, rels))
    pruned = {
        "files": [rel for rel in man["files"] if rel in keep],
        "schema": man["schema"],
        "mor": {
            **man["mor"],
            "deltas": [
                [rel for rel in grp if rel in keep]
                for grp in man["mor"]["deltas"]
            ],
        },
    }
    for carry in ("column_mapping", "widened", "dropped"):
        if man.get(carry):
            pruned[carry] = man[carry]
    return pruned, len(keep), len(rels)


def read_snapshot_point(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """POINT LOOKUP on a snapshot table through the bloom sidecar:
    return the selected version's rows with ``col IN values``, opening
    only sidecar-admitted files plus any file the sidecar doesn't cover
    — on a UUID-keyed 100 TB table where min/max stats prune nothing,
    the lookup touches ~1 + fpr·files files instead of all of them.
    Honors the full read contract of :func:`read_snapshot`: deletion
    vectors anti-joined, column mapping translated, forced committed
    schema, and MOR chains latest-wins-resolved (``col`` must then be a
    MOR key column — the :func:`_bloom_live_rels` soundness rule; the
    chain is pruned per-file BEFORE the window, sound because every
    commit of a key fires the same bloom). The sidecar is advice:
    absent, stale, or type-mismatched sidecars degrade to a full read
    with the exact filter, never to a wrong answer."""
    import json
    import os

    from pyspark.sql import functions as F

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"version {v} not committed (have {versions}) — vacuumed?"
        )
    with open(os.path.join(_manifest_dir(path), f"v{v}.json")) as f:
        man = json.load(f)
    if man.get("mor"):
        _bloom_live_rels(man, col)  # raises on non-key col
    all_rels = _bloom_live_rels(man, col) if man.get("mor") else list(
        man["files"]
    )
    keep = set(_bloom_point_keep(spark, path, man, col, values, all_rels))
    pruned = {
        "files": [rel for rel in man["files"] if rel in keep],
        "schema": man["schema"],
    }
    if man.get("mor"):
        pruned["mor"] = {
            **man["mor"],
            "deltas": [
                [rel for rel in grp if rel in keep]
                for grp in man["mor"]["deltas"]
            ],
        }
    if man.get("dv"):
        pruned["dv"] = {
            rel: dv for rel, dv in man["dv"].items() if rel in keep
        }
    for carry in ("column_mapping", "widened", "dropped"):
        if man.get(carry):
            pruned[carry] = man[carry]
    if not pruned["files"] and not any(
        (pruned.get("mor") or {}).get("deltas") or []
    ):
        # every file provably key-free: typed empty frame, zero IO
        # (_manifest_df's empty branch can't take a fully-pruned MOR
        # manifest — _resolve_mor has no zero-path mode)
        pruned.pop("mor", None)
    return _manifest_df(spark, path, pruned).filter(F.col(col).isin(values))


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg partition-spec shape) on the snapshot layer
#
# A PARTITION SPEC is a list of transforms over source columns —
# identity / bucket[N] / truncate[W] / years|months|days|hours — and every
# data file belongs to exactly one partition TUPLE (the transform values).
# "Hidden" means readers never see or filter on the transform columns:
# they predicate on the SOURCE columns and the reader maps each predicate
# through the transform to prune whole files from the manifest, before
# Spark lists or opens anything. This is the coarse, exact complement to
# per-file min/max stats (read_snapshot_pruned): partition pruning needs
# no footer harvest, survives any row order inside the partition, and at
# 100 TB is the FIRST gate a scan passes (days(ts) alone turns a 30-day
# retention query over years of data into a 30-partition read).
#
# Layout: the transform values are materialized as temporary `_p<i>`
# columns and written with Spark's hive-style partitionBy, so the data
# directory self-describes (`data/<token>/_p0=2024-01-03/_p1=4/part-*`),
# while the SOURCE columns all stay inside the files (identity transforms
# copy, never move, their column — a file read back alone is complete).
# The manifest records {"partition": {"specs": [spec0, spec1, ...],
# "current": <id new writes use>, "values": {rel_path: [spec_id,
# [v0, v1, ...]]}}} so pruning is one dict scan with each file judged by
# the spec it was WRITTEN under (Iceberg's per-manifest spec id —
# evolve_partition_spec changes "current" without touching a file); a
# file absent from "values" (e.g. appended by a non-partition-aware verb,
# or rewritten by DML) maps to None = always read, so pruning degrades,
# never lies.
#
# Transform values are stored so that PYTHON comparison matches the
# transform's semantic order: integral kinds as ints, temporal kinds as
# fixed-width ISO strings ('yyyy', 'yyyy-MM', 'yyyy-MM-dd',
# 'yyyy-MM-dd-HH' — lexicographic == chronological), truncate(str) as the
# prefix (lexicographic lower bound). bucket[] values carry NO order —
# they prune equality/IN predicates only.
#
# Reference anchor: the reference scopes a whole import to one instance
# (handler/incoming_instance_handler.go:100-133 — every node/edge verb
# keys on instanceID); instanceID is exactly an identity partition column
# at warehouse scale, which is why the spec form, not a fixed column,
# is the verb's surface.
# ---------------------------------------------------------------------------

_TEMPORAL_FMT = {
    "years": "yyyy",
    "months": "yyyy-MM",
    "days": "yyyy-MM-dd",
    "hours": "yyyy-MM-dd-HH",
}
_TEMPORAL_PYFMT = {
    "years": "%Y",
    "months": "%Y-%m",
    "days": "%Y-%m-%d",
    "hours": "%Y-%m-%d-%H",
}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _normalize_spec(spec) -> list[dict]:
    """Validate/normalize a partition spec into the manifest's JSON form.

    Accepted entries: ``("identity", col)``, ``("bucket", col, n)``,
    ``("truncate", col, w)``, ``("years"|"months"|"days"|"hours", col)``.
    """
    out = []
    if not spec:
        raise ValueError("partition spec must name at least one transform")
    for entry in spec:
        if isinstance(entry, dict):
            # already-normalized (manifest JSON form): pass through via
            # the same validation by re-expressing as the tuple form
            t = entry["transform"]
            if t == "identity":
                entry = (t, entry["col"])
            elif t == "bucket":
                entry = (t, entry["col"], entry["n"])
            elif t == "truncate":
                entry = (t, entry["col"], entry["w"])
            else:
                entry = (t, entry["col"])
        t = entry[0]
        if t == "identity":
            (_, col), extra = entry[:2], entry[2:]
            if extra:
                raise ValueError(f"identity takes no parameter: {entry!r}")
            out.append({"transform": "identity", "col": col})
        elif t == "bucket":
            _, col, n = entry
            if int(n) < 2:
                raise ValueError(f"bucket needs n >= 2: {entry!r}")
            out.append({"transform": "bucket", "col": col, "n": int(n)})
        elif t == "truncate":
            _, col, w = entry
            if int(w) < 1:
                raise ValueError(f"truncate needs width >= 1: {entry!r}")
            out.append({"transform": "truncate", "col": col, "w": int(w)})
        elif t in _TEMPORAL_FMT:
            _, col = entry
            out.append({"transform": t, "col": col})
        else:
            raise ValueError(f"unknown partition transform {entry!r}")
    return out


def _transform_expr(t: dict, dtype: str):
    """The Spark Column computing transform ``t``'s partition VALUE from
    its source column — pure codegen'd expressions, no UDF. ``dtype`` is
    the source column's simpleString type."""
    from pyspark.sql import functions as F

    c = F.col(t["col"])
    kind = t["transform"]
    integral = dtype in ("tinyint", "smallint", "int", "bigint")
    if kind == "identity":
        if integral:
            return c.cast("long")
        if dtype == "string":
            return c
        if dtype == "date":
            return F.date_format(c, "yyyy-MM-dd")
        if dtype.startswith("timestamp"):
            return F.date_format(c, "yyyy-MM-dd-HH.mm.ss.SSSSSS")
        raise ValueError(
            f"identity partitioning on type {dtype!r} not supported "
            f"(column {t['col']!r}) — use bucket/truncate/temporal"
        )
    if kind == "bucket":
        # cast integrals to long so the write-side hash and the read-side
        # literal hash (both xxhash64 over LONG) can never disagree on
        # physical width
        if integral:
            c = c.cast("long")
        elif dtype != "string":
            raise ValueError(
                f"bucket partitioning needs an integral or string column, "
                f"got {dtype!r} for {t['col']!r}"
            )
        return F.pmod(F.xxhash64(c), F.lit(t["n"])).cast("long")
    if kind == "truncate":
        if integral:
            lc = c.cast("long")
            return (lc - F.pmod(lc, F.lit(t["w"]))).cast("long")
        if dtype == "string":
            return F.substring(c, 1, t["w"])
        raise ValueError(
            f"truncate partitioning needs an integral or string column, "
            f"got {dtype!r} for {t['col']!r}"
        )
    # temporal
    if not (dtype == "date" or dtype.startswith("timestamp")):
        raise ValueError(
            f"{kind} partitioning needs a date/timestamp column, got "
            f"{dtype!r} for {t['col']!r}"
        )
    return F.date_format(c, _TEMPORAL_FMT[kind])


# XXH64 primes — the published constants of the public xxHash spec
# (github.com/Cyan4973/xxHash), which Spark's `xxhash64` expression
# implements JVM-side with seed 42.
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def _xx_round(acc: int, k: int) -> int:
    k = (k * _XXP2) & _M64
    k = _rotl64(k, 31)
    k = (k * _XXP1) & _M64
    acc ^= k
    return (_rotl64(acc, 27) * _XXP1 + _XXP4) & _M64


def xxhash64_long(v: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one LONG value, driver-side (the
    specialized hashLong path: seed + P5 + 8, one round, fmix). Returns
    the unsigned 64-bit hash; callers mod it like ``pmod``."""
    h = (seed + _XXP5 + 8) & _M64
    h = _xx_round(h, v & _M64)
    return _xx_fmix(h)


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of a string/binary value, driver-side — the
    standard little-endian XXH64 over the UTF-8 bytes."""
    import struct

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<QQQQ", data, i)
            v1 = (_rotl64((v1 + a * _XXP2) & _M64, 31) * _XXP1) & _M64
            v2 = (_rotl64((v2 + b * _XXP2) & _M64, 31) * _XXP1) & _M64
            v3 = (_rotl64((v3 + c * _XXP2) & _M64, 31) * _XXP1) & _M64
            v4 = (_rotl64((v4 + d * _XXP2) & _M64, 31) * _XXP1) & _M64
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
            + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            v = (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = ((h ^ v) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        k = (_rotl64((k * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = (_rotl64(h ^ k, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ (k * _XXP1) & _M64, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ (data[i] * _XXP5) & _M64, 11) * _XXP1) & _M64
        i += 1
    return _xx_fmix(h)


def _bucket_of(v, n: int) -> int:
    """Driver-side bucket id of a literal — pmod(xxhash64(v), n) with the
    exact JVM semantics (longs via the specialized long path, strings via
    UTF-8 bytes), so write-side hive values and read-side predicate
    literals can never disagree. Pinned against ``F.xxhash64`` in
    tests/test_partitioned.py."""
    if isinstance(v, bool):
        raise ValueError("bucket partition predicate on bool")
    h = (
        xxhash64_long(int(v)) if isinstance(v, int)
        else xxhash64_bytes(str(v).encode("utf-8"))
    )
    if h >= 1 << 63:  # JVM hash is a SIGNED long; pmod of the signed value
        h -= 1 << 64
    return h % n


def _transform_literal(t: dict, v, spark=None):
    """Transform a PREDICATE literal the way :func:`_transform_expr`
    transforms the column, driver-side, so pruning compares like with
    like. Pure Python throughout — bucket literals hash via the
    driver-side XXH64 twin of the JVM expression (``spark`` is accepted
    for API compatibility, unused)."""
    import datetime

    kind = t["transform"]
    if v is None:
        return None
    if kind == "identity":
        if isinstance(v, bool):
            raise ValueError("identity partition predicate on bool")
        if isinstance(v, int):
            return int(v)
        if isinstance(v, str):
            return v
        if isinstance(v, datetime.datetime):
            return v.strftime("%Y-%m-%d-%H.%M.%S.%f")
        if isinstance(v, datetime.date):
            return v.strftime("%Y-%m-%d")
        raise ValueError(f"unsupported identity predicate literal {v!r}")
    if kind == "bucket":
        return _bucket_of(v, t["n"])
    if kind == "truncate":
        if isinstance(v, int):
            return v - (v % t["w"] + t["w"]) % t["w"]
        return str(v)[: t["w"]]
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.strftime(_TEMPORAL_PYFMT[kind])
    raise ValueError(f"{kind} predicate literal must be date/datetime: {v!r}")


def _spec_value_is_int(t: dict, dtype: str) -> bool:
    if t["transform"] == "bucket":
        return True
    integral = dtype in ("tinyint", "smallint", "int", "bigint")
    return t["transform"] in ("identity", "truncate") and integral


def write_snapshot_partitioned(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    spec,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
    stats_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Commit ``df`` as the table's next snapshot version, hive-laid-out
    by the hidden-partition ``spec`` (see the section comment). Same
    commit protocol as :func:`write_snapshot` — immutable files under a
    fresh ``data/<token>/``, hard-linked manifest IS the commit — plus a
    recorded ``partition`` block mapping every file to its transform
    tuple, which :func:`read_snapshot_partitioned` prunes against.

    Each partition tuple is hash-clustered to one write task
    (``repartition(*transform_cols)``), so a tuple produces ONE file per
    commit — the 100 TB deployment picks the spec (days × bucket[N]) so
    that one partition-commit fits a task; a spec too coarse for that is
    a spec bug, not a writer knob.

    ``mode='append'`` requires the previous version's spec to match
    verbatim (Iceberg's spec-evolution is a separate, explicit verb —
    silently mixing layouts would poison pruning) and carries the prior
    files' tuples forward untouched. ``txn`` has write_snapshot's
    idempotent-skip semantics."""
    import glob
    import json
    import os
    import urllib.parse
    import uuid

    spec = _normalize_spec(spec)
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema}
    for t in spec:
        if t["col"] not in dtypes:
            raise ValueError(f"partition column {t['col']!r} not in frame")
    new_schema = dict(dtypes)
    versions = snapshot_versions(path)
    prev: dict = {}
    if versions:
        prev = _load_manifest(path, versions[-1])
    prev_txn = prev.get("txn") or {}
    if txn is not None and txn[1] <= prev_txn.get(txn[0], -1):
        return versions[-1]
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown snapshot write mode {mode!r}")
    if prev.get("generated"):
        df = _apply_generated(
            df, prev["generated"], prev.get("schema") or {},
            "write_snapshot_partitioned",
        )
        dtypes = {f.name: f.dataType.simpleString() for f in df.schema}
        new_schema = dict(dtypes)
    if prev.get("constraints"):
        _enforce_constraints(
            df, prev["constraints"], "write_snapshot_partitioned"
        )
    if prev.get("mor") and mode == "append":
        # r13: an OVERWRITE replaces the MOR table's content wholesale
        # (the write_snapshot-on-MOR rule — the fresh manifest carries
        # no chain); an append would dodge delta resolution and stays
        # refused
        raise ValueError(
            "partitioned append into a MOR table: use "
            "upsert_delta_snapshot, or compact_mor before appending"
        )
    specs, cur = [spec], 0
    # append keeps a mapped table's ONE physical schema (write with
    # physical names, manifest speaks logical); overwrite materializes
    mapping = (
        (prev.get("column_mapping") or {})
        if (mode == "append" and prev) else {}
    )
    if mode == "append" and prev:
        prev_part = prev.get("partition") or {}
        prev_specs = prev_part.get("specs")
        if prev_specs is not None:
            cur = prev_part["current"]
            if prev_specs[cur] != spec:
                raise ValueError(
                    f"append spec {spec} != current committed spec "
                    f"{prev_specs[cur]} — evolve_partition_spec first "
                    "(old files keep their old tuples)"
                )
            specs = prev_specs
        elif prev.get("files"):
            # appending a partitioned layout onto an unpartitioned table:
            # the existing files simply have no tuples (never pruned)
            pass
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"snapshot schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, new commit has "
                    f"{new_schema.get(col_name)!r}"
                )
        if prev.get("dropped"):
            reborn = sorted(
                c for c in new_schema
                if c not in (prev.get("schema") or {})
                and c in prev["dropped"]
            )
            if reborn:
                raise ValueError(
                    f"columns {reborn} reuse DROPPED column names still "
                    "present in old files — rewrite before reusing"
                )

    new_files, values = _write_partitioned_files(
        df, path, spec, cur, dtypes, compression, mapping
    )

    carried = prev.get("files", []) if (mode == "append" and prev) else []
    if carried:
        prev_vals = (prev.get("partition") or {}).get("values") or {}
        for rel in carried:
            values[rel] = prev_vals.get(rel)
    manifest = {
        "files": carried + new_files,
        "schema": new_schema,
        "partition": {"specs": specs, "current": cur, "values": values},
    }
    if mode == "overwrite":
        # fresh files: shed the widened/dropped markers explicitly
        manifest["widened"], manifest["dropped"] = {}, []
    if mapping:
        manifest["column_mapping"] = mapping
    carried_dv = {
        rel: dv
        for rel, dv in (prev.get("dv") or {}).items()
        if rel in set(carried)
    }
    if carried_dv:
        manifest["dv"] = carried_dv
    if stats_cols is not None or (carried and "stats" in prev):
        stats = {
            rel: prev["stats"][rel]
            for rel in carried
            if rel in prev.get("stats", {})
        }
        if stats_cols is not None:
            stats.update(
                _stats_logical(new_files, path, stats_cols, mapping)
            )
        manifest["stats"] = stats
    if prev_txn or txn is not None:
        manifest["txn"] = dict(prev_txn)
        if txn is not None:
            manifest["txn"][txn[0]] = txn[1]

    def _rebase(head: dict) -> dict:
        """Racing-writer rebase, partitioned flavor: additionally refuses
        a concurrent partition-spec evolution (this commit's tuples were
        computed under the old current spec)."""
        if head.get("mor"):
            raise ConcurrentCommitError(
                "concurrent commit made the table MOR — partitioned "
                "write refuses"
            )
        if (head.get("column_mapping") or {}) != mapping:
            raise ConcurrentCommitError(
                "column mapping changed concurrently — this commit's "
                "files carry the old physical schema; re-run the write"
            )
        if (head.get("constraints") or {}) != (prev.get("constraints") or {}):
            raise ConcurrentCommitError(
                "CHECK constraints changed concurrently — re-run the write"
            )
        if (head.get("generated") or {}) != (prev.get("generated") or {}):
            raise ConcurrentCommitError(
                "generated-column contracts changed concurrently — "
                "re-run the write"
            )
        if txn is not None and txn[1] <= (head.get("txn") or {}).get(
            txn[0], -1
        ):
            raise ConcurrentCommitError(
                f"txn batch {txn} already committed by a concurrent "
                "writer — re-run the verb for the idempotent skip"
            )
        for col_name, col_type in (head.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ConcurrentCommitError(
                    f"concurrent schema evolution: column {col_name!r} "
                    f"is now {col_type}, this commit has "
                    f"{new_schema.get(col_name)!r}"
                )
        if (
            sorted(head.get("dropped") or [])
            != sorted(prev.get("dropped") or [])
            or (head.get("widened") or {}) != (prev.get("widened") or {})
        ):
            # ADVICE r12 (same asymmetry as write_snapshot's rebase): a
            # concurrent drop_column leaves the column absent from head's
            # schema but present in ours — rebasing would re-add it next
            # to the inherited tombstone and resurrect stale bytes.
            raise ConcurrentCommitError(
                "columns were dropped/widened concurrently — this "
                "commit's schema predates the evolution; re-run the "
                "write against the new head"
            )
        head_txn = dict(head.get("txn") or {})
        if txn is not None:
            head_txn[txn[0]] = txn[1]
        if mode == "overwrite":
            m2 = dict(manifest)
            if head_txn:
                m2["txn"] = head_txn
            return m2
        head_part = head.get("partition") or {}
        head_specs = head_part.get("specs")
        r_specs, r_cur = [spec], 0
        if head_specs is not None:
            r_cur = head_part["current"]
            if head_specs[r_cur] != spec:
                raise ConcurrentCommitError(
                    "partition spec evolved concurrently — this commit's "
                    "tuples were computed under the old spec; re-run"
                )
            r_specs = head_specs
        r_values = dict(head_part.get("values") or {})
        for rel in head.get("files") or []:
            r_values.setdefault(rel, None)
        for rel in new_files:
            r_values[rel] = [r_cur, values[rel][1]]
        m2 = {
            "files": list(head.get("files") or []) + new_files,
            "schema": new_schema,
            "partition": {
                "specs": r_specs, "current": r_cur, "values": {
                    rel: r_values.get(rel)
                    for rel in (head.get("files") or []) + new_files
                },
            },
        }
        if mapping:
            m2["column_mapping"] = mapping
        if head.get("dv"):
            m2["dv"] = dict(head["dv"])
        our_stats = {
            rel: manifest["stats"][rel]
            for rel in new_files
            if rel in manifest.get("stats", {})
        } if "stats" in manifest else {}
        if head.get("stats") or our_stats:
            m2["stats"] = {**(head.get("stats") or {}), **our_stats}
        if head_txn:
            m2["txn"] = head_txn
        return m2

    return _commit_manifest(
        path, manifest, uuid.uuid4().hex[:12], rebase=_rebase
    )


def partition_pruned_files(
    path: str,
    where: dict,
    version: int | None = None,
    spark: SparkSession | None = None,
) -> tuple[list[str], int]:
    """Resolve ``where`` against the manifest's partition tuples and
    return ``(surviving_files, total_files)`` — the planning half of
    :func:`read_snapshot_partitioned`, exposed so callers can assert the
    skip rate. Pure manifest work: no file is listed or opened.

    ``where`` maps SOURCE column -> predicate:
    ``("=", v)`` | ``("in", [v, ...])`` | ``("between", lo, hi)``.
    Ordered transforms (identity / truncate / temporal) prune all three;
    bucket carries no order and prunes only ``=`` / ``in``. A file with
    no recorded tuple, or a None (null / unknown) transform value,
    always survives — pruning degrades, never lies."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    v = versions[-1] if version is None else version
    manifest = _load_manifest(path, v)
    files = manifest.get("files", [])
    part = manifest.get("partition")
    if not part:
        return list(files), len(files)
    return _partition_keep(part, files, where, spark), len(files)


def _partition_keep(
    part: dict, rels: list, where: dict,
    spark: SparkSession | None = None,
) -> list[str]:
    """The tuple-admission core of :func:`partition_pruned_files` over
    an ARBITRARY rel list — shared with the MOR read path, which prunes
    base files and each delta group independently (r14)."""
    specs, vals = part["specs"], part.get("values") or {}

    def _tests_for(spec):
        # predicate -> per-spec-slot admission test on the stored value
        out = []  # list of (slot index, callable(stored_value) -> bool)
        for col, pred in where.items():
            op = pred[0]
            for i, t in enumerate(spec):
                if t["col"] != col:
                    continue
                if op == "=":
                    tv = _transform_literal(t, pred[1], spark)
                    out.append((i, lambda s, tv=tv: s == tv))
                elif op == "in":
                    tvs = {_transform_literal(t, x, spark) for x in pred[1]}
                    out.append((i, lambda s, tvs=tvs: s in tvs))
                elif op == "between":
                    if t["transform"] == "bucket":
                        continue  # buckets are orderless: no range pruning
                    lo = _transform_literal(t, pred[1], spark)
                    hi = _transform_literal(t, pred[2], spark)
                    out.append((i, lambda s, lo=lo, hi=hi: lo <= s <= hi))
                else:
                    raise ValueError(
                        f"unknown partition predicate {pred!r}"
                    )
        return out

    # spec EVOLUTION means different files carry tuples under different
    # specs — each file is judged by the spec it was WRITTEN under
    # (Iceberg's per-manifest spec id), so an evolved table prunes old
    # and new files each as well as their own layout allows
    tests_by_sid: dict[int, list] = {}
    keep = []
    for rel in rels:
        entry = vals.get(rel)
        if entry is None:
            keep.append(rel)
            continue
        sid, tup = entry
        if sid not in tests_by_sid:
            tests_by_sid[sid] = _tests_for(specs[sid])
        ok = True
        for i, test in tests_by_sid[sid]:
            s = tup[i]
            if s is None:
                continue  # unknown at write time: cannot prune
            if not test(s):
                ok = False
                break
        if ok:
            keep.append(rel)
    return keep


def _where_expr(where: dict):
    """The exact ROW-level filter for a partition ``where`` dict — applied
    on top of the pruned scan so the result equals
    ``read_snapshot(...).filter(...)`` regardless of transform
    granularity (days() keeps whole days; the row filter trims them)."""
    from pyspark.sql import functions as F

    expr = F.lit(True)
    for col, pred in where.items():
        c = F.col(col)
        if pred[0] == "=":
            expr = expr & (c == F.lit(pred[1]))
        elif pred[0] == "in":
            expr = expr & c.isin(list(pred[1]))
        elif pred[0] == "between":
            expr = expr & c.between(F.lit(pred[1]), F.lit(pred[2]))
        else:
            raise ValueError(f"unknown partition predicate {pred!r}")
    return expr


def read_snapshot_partitioned(
    spark: SparkSession,
    path: str,
    where: dict | None = None,
    version: int | None = None,
    tag: str | None = None,
    asof: float | None = None,
) -> DataFrame:
    """Snapshot read with HIDDEN-PARTITION pruning: map each ``where``
    predicate (on SOURCE columns) through the committed partition spec,
    drop every file whose transform tuple cannot satisfy it, then apply
    the same predicate row-level — semantics are exactly
    ``read_snapshot(...).filter(where)``, the pruning only removes IO.
    On a table without a partition block (or with none matching the
    predicate columns) this degrades to read-then-filter. DV deletes on
    surviving files are honored (the pruned manifest keeps their
    vectors). MOR tables only reach here chainless (a partitioned
    OVERWRITE sheds the chain; partitioned append refuses upstream),
    so no MOR dispatch is needed."""
    from pyspark.sql import functions as F

    version = _resolve_selector(path, version, tag, asof)
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} not committed (have {versions}) — vacuumed?"
        )
    if not where:
        return read_snapshot(spark, path, version)
    manifest = _load_manifest(path, version)
    if manifest.get("mor"):
        # r14 (r13 verdict #2): partitioned MOR — prune base files AND
        # every delta group by tuple BEFORE the latest-wins window.
        # Sound because a MOR spec's sources are key columns (enforced
        # at spec attach/delta write): every row of a predicate-
        # satisfying key lives in tuple-matching or no-tuple files, so
        # the winner over the survivors is the true winner; extraneous
        # surviving keys fall to the row filter. Empty groups stay
        # positionally (commit rank alignment, the _mor_pruned_manifest
        # rule).
        part = manifest.get("partition")
        mor = manifest["mor"]
        spec_cols = {
            t["col"]
            for s in ((part or {}).get("specs") or [])
            for t in s
        }
        unsound = (spec_cols & set(where)) - set(mor["key_cols"])
        if not part or not part.get("specs") or unsound:
            # no layout (or a legacy non-key spec): resolve-then-filter
            return read_snapshot(spark, path, version).filter(
                _where_expr(where)
            )
        keep_base = _partition_keep(part, manifest["files"], where, spark)
        keep_groups = [
            _partition_keep(part, grp, where, spark)
            for grp in mor["deltas"]
        ]
        if not keep_base and not any(keep_groups):
            return _manifest_df(
                spark, path,
                {"files": [], "schema": manifest.get("schema")},
            ).filter(F.lit(False))
        pruned = {
            "files": keep_base,
            "schema": manifest["schema"],
            "mor": {**mor, "deltas": keep_groups},
        }
        for carry in ("column_mapping", "widened", "dropped"):
            if manifest.get(carry):
                pruned[carry] = manifest[carry]
        return _resolve_mor(spark, path, pruned).filter(
            _where_expr(where)
        )
    keep, _total = partition_pruned_files(path, where, version, spark)
    if not keep:
        return _manifest_df(
            spark, path, {"files": [], "schema": manifest.get("schema")}
        ).filter(F.lit(False))
    pruned = {
        "files": keep,
        "schema": manifest.get("schema"),
        "column_mapping": manifest.get("column_mapping"),
        "widened": manifest.get("widened"),
        "dropped": manifest.get("dropped"),
        "dv": {
            rel: dv
            for rel, dv in (manifest.get("dv") or {}).items()
            if rel in set(keep)
        },
    }
    return _manifest_df(spark, path, pruned).filter(_where_expr(where))


# ---------------------------------------------------------------------------
# Metadata tables — the table format ABOUT itself, as DataFrames
# (Delta's DESCRIBE HISTORY / Iceberg's <table>.snapshots & .files).
# Everything is DERIVED from the committed manifests at read time — no
# recorded "operation" field to drift from the truth; the kind labels are
# classify_transition's shape tests, the same dispatch the change feed
# trusts. Driver-side cost is O(retained versions) JSON reads — manifest
# planning scale, no data pages.
# ---------------------------------------------------------------------------


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """One row per RETAINED version, ascending — the audit surface ops
    tooling greps before trusting a table: what kind of commit each
    version was (``initial`` / ``append`` / ``dv`` / ``mor`` / ``noop``
    / ``rewrite``, classified against the previous retained version —
    after a vacuum the label describes the surviving RANGE, and
    ``base_version`` says what it was classified against), how the live
    file set moved, and the commit instant. Columns: ``version``,
    ``committed_at`` (double unix seconds), ``kind``, ``base_version``,
    ``n_files``, ``n_added``, ``n_removed``, ``n_dv_files``,
    ``n_mor_groups``, ``n_columns``."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    rows = []
    prev_files: set[str] = set()
    base = 0
    for v in versions:
        m = _load_manifest(path, v)
        kind = classify_transition(path, base, v)["kind"]
        files = set(m.get("files") or [])
        rows.append(
            (
                v,
                float(m.get("committed_at") or 0.0),
                kind,
                base,
                len(files),
                len(files - prev_files),
                len(prev_files - files),
                len(m.get("dv") or {}),
                len((m.get("mor") or {}).get("deltas", [])),
                len(m.get("schema") or {}),
            )
        )
        prev_files, base = files, v
    return spark.createDataFrame(
        rows,
        "version int, committed_at double, kind string, base_version int, "
        "n_files long, n_added long, n_removed long, n_dv_files long, "
        "n_mor_groups long, n_columns long",
    )


def table_files(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """One row per data file of a version (latest by default) — the
    planning view (Iceberg's ``.files``): where each file sits, its
    byte size, its partition tuple under the committed spec, how many
    positions its deletion vector masks, and its recorded min/max stats
    (JSON, keyed by column — stats are per-column heterogeneous, so a
    string column keeps the schema flat). MOR delta files appear with
    their commit-ordinal ``mor_group`` (base files carry NULL), so the
    row set is the COMPLETE physical footprint of the version. Columns:
    ``file``, ``bytes``, ``partition`` (array<string>, NULL when
    unpartitioned), ``n_dv_deletes``, ``mor_group``, ``stats_json``."""
    import json
    import os

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"version {v} not committed (have {versions}) — vacuumed?"
        )
    m = _load_manifest(path, v)
    dv_map = m.get("dv") or {}
    stats = m.get("stats") or {}
    pvals = (m.get("partition") or {}).get("values") or {}
    listing: list[tuple[str, int | None]] = [
        (rel, None) for rel in (m.get("files") or [])
    ]
    for gi, grp in enumerate((m.get("mor") or {}).get("deltas", [])):
        listing.extend((rel, gi) for rel in grp)
    rows = []
    for rel, gi in listing:
        entry = pvals.get(rel)
        tup = entry[1] if entry is not None else None
        dv_rel = dv_map.get(rel)
        rows.append(
            (
                rel,
                os.path.getsize(os.path.join(path, rel)),
                None if tup is None else [
                    None if x is None else str(x) for x in tup
                ],
                _dv_count(os.path.join(path, dv_rel)) if dv_rel else 0,
                gi,
                json.dumps(stats.get(rel), sort_keys=True)
                if rel in stats else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, bytes long, partition array<string>, "
        "n_dv_deletes long, mor_group int, stats_json string",
    )


def _carry_partition(
    man: dict, manifest: dict, new_files, new_values: dict | None = None
) -> None:
    """Carry a partition block through a DML commit: files that survive
    keep their recorded tuples; files this commit WROTE take their tuple
    from ``new_values`` (``{rel: [sid, tuple]}`` — the DML rewrite
    routed through the hive writer, r11 verdict #2) or map to None
    (= never pruned) when the rewrite didn't partition-cluster — pruning
    degrades on that fraction, never lies. Called by
    :func:`_commit_change` (every subset-replacing commit, the CoW MERGE
    included) and the append paths; full-table rewrites (``write_snapshot``
    overwrite, ``optimize_snapshot``) start without the block."""
    part = man.get("partition")
    if not part:
        return
    vals = part.get("values") or {}
    new = set(new_files)
    nv = new_values or {}
    manifest["partition"] = {
        **{k: part[k] for k in part if k != "values"},
        "values": {
            rel: (nv.get(rel) if rel in new else vals.get(rel))
            for rel in manifest["files"]
        },
    }


def _route_rewrite(
    df_logical: DataFrame,
    path: str,
    man: dict,
    token: str,
    compression: str,
    mapping: dict | None = None,
) -> tuple[list[str], dict | None]:
    """Land a DML rewrite's surviving rows and return ``(new rel paths,
    {rel: [sid, tuple]} | None)``. On a hidden-partitioned table the
    rows route through the hive writer under the CURRENT spec, so the
    rewritten files come out with REAL partition tuples and pruning
    holds immediately after DML (r11 verdict #2 — the transforms are
    derivable from source columns, hidden partitioning's whole point;
    pre-r12 these files carried None tuples until an
    optimize_partitions repair pass). Unpartitioned tables take the
    plain single-directory write. ``df_logical`` speaks logical names;
    ``mapping`` renames to the table's physical schema at write."""
    import glob
    import os

    part = man.get("partition")
    if part and part.get("specs"):
        spec = part["specs"][part["current"]]
        dtypes = {
            f.name: f.dataType.simpleString() for f in df_logical.schema
        }
        return _write_partitioned_files(
            df_logical, path, spec, part["current"], dtypes, compression,
            mapping,
        )
    out = (
        df_logical.withColumnsRenamed(mapping) if mapping else df_logical
    )
    data_dir = os.path.join(path, "data", token)
    (out.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    return new_files, None


# ---------------------------------------------------------------------------
# CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT shape): named SQL
# predicates recorded in the manifest and enforced on every verb that
# writes NEW rows (write/append, partitioned write, MOR delta, UPDATE,
# MERGE, WAP stage). SQL CHECK semantics: a row VIOLATES only when the
# expression evaluates to FALSE — NULL passes. The invariant is
# "all committed data satisfies all committed constraints": adding a
# constraint validates the existing table first (one aggregate), and
# rewrite verbs need only check the rows they WRITE (surviving files were
# valid when committed). _commit_manifest inherits the constraint map, so
# optimize/compact/restore can never silently shed it.
# ---------------------------------------------------------------------------


def _enforce_constraints(df: DataFrame, constraints: dict, verb: str) -> None:
    """Raise if any row of ``df`` violates any constraint — ONE aggregate
    pass counting all constraints at once; the failure path pays a second
    pass for sample rows. Called with the rows a verb is about to write,
    before any file lands."""
    from pyspark.sql import functions as F

    if not constraints:
        return
    names = sorted(constraints)
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(constraints[n]), F.lit(True)), 1)
            .otherwise(0)
        ).alias(n)
        for n in names
    ]
    try:
        counts = df.agg(*aggs).first()
    except Exception as e:  # noqa: BLE001 — surface WHICH constraint broke
        raise ValueError(
            f"{verb}: CHECK constraint expression failed to evaluate "
            f"against the written schema {df.columns} "
            f"({dict(constraints)}): {e}"
        ) from e
    bad = {n: counts[n] for n in names if counts[n]}
    if bad:
        worst = min(bad)
        sample = (
            df.filter(~F.coalesce(F.expr(constraints[worst]), F.lit(True)))
            .limit(3)
            .collect()
        )
        raise ValueError(
            f"{verb}: CHECK constraint violated — "
            + "; ".join(
                f"{n!r} ({constraints[n]}): {c} row(s)"
                for n, c in sorted(bad.items())
            )
            + f"; sample for {worst!r}: {[tuple(r) for r in sample]}"
        )


def list_check_constraints(path: str) -> dict[str, str]:
    """The latest version's ``{name: sql_expr}`` constraint map (empty if
    the table has none or doesn't exist yet)."""
    versions = snapshot_versions(path)
    if not versions:
        return {}
    return dict(_load_manifest(path, versions[-1]).get("constraints") or {})


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr_sql: str
) -> int:
    """Record CHECK constraint ``name: expr_sql`` as a metadata-only
    commit — after validating that the EXISTING table already satisfies
    it (Delta's contract: ADD CONSTRAINT scans once and refuses
    otherwise, so the invariant 'committed data is valid' holds from the
    moment the constraint exists). Every subsequent row-writing verb
    enforces it on the rows it writes. Returns the new version."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    cons = dict(man.get("constraints") or {})
    if name in cons:
        raise ValueError(
            f"constraint {name!r} already exists ({cons[name]!r}) — "
            "drop_check_constraint first"
        )
    _enforce_constraints(
        _manifest_df(spark, path, man), {name: expr_sql},
        f"add_check_constraint({name!r}) on existing data",
    )
    import uuid

    cons[name] = expr_sql
    manifest = {k: v for k, v in man.items()}
    manifest["constraints"] = cons
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def drop_check_constraint(path: str, name: str) -> int:
    """Remove constraint ``name`` with a metadata-only commit (the map is
    passed EXPLICITLY so _commit_manifest's inherit-when-absent carry
    cannot resurrect it). Returns the new version."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    cons = dict(man.get("constraints") or {})
    if name not in cons:
        raise ValueError(
            f"no constraint {name!r} (have {sorted(cons)})"
        )
    del cons[name]
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["constraints"] = cons
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def evolve_partition_spec(path: str, new_spec) -> int:
    """Change the partition spec NEW writes use — a metadata-only commit
    (Iceberg's partition spec evolution): no file moves, no tuple is
    recomputed. Old files keep the tuples of the spec they were written
    under and keep pruning by it; files written after this commit carry
    the new spec's tuples — :func:`partition_pruned_files` judges every
    file by its own spec id. Re-evolving to a spec the table used before
    reuses that spec's id. Also legal on an UNPARTITIONED table: existing
    files get no tuples (never pruned) and appends from then on are
    partitioned. Returns the new version."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    new_spec = _normalize_spec(new_spec)
    man = _load_manifest(path, versions[-1])
    if man.get("mor"):
        # r14 (r13 verdict #2): a MOR table takes a partition spec as
        # long as every source column is a MOR KEY column — a key's
        # tuple is then constant across all its commits, which is what
        # makes partition-pruned latest-wins resolution (and the
        # partition-scoped chain fold) sound. Existing base and chain
        # files simply carry no tuples (never pruned) until rewritten.
        keys = man["mor"]["key_cols"]
        bad = sorted(
            t["col"] for t in new_spec if t["col"] not in keys
        )
        if bad:
            raise ValueError(
                f"partition spec on a MOR table must transform KEY "
                f"columns only — {bad} are not in {keys} (a non-key "
                "value can change between commits of one key, making "
                "partition-pruned resolution unsound)"
            )
    schema = man.get("schema") or {}
    for t in new_spec:
        if t["col"] not in schema:
            raise ValueError(
                f"partition column {t['col']!r} not in committed schema "
                f"{sorted(schema)}"
            )
    part = man.get("partition") or {"specs": [], "values": {}}
    specs = list(part.get("specs") or [])
    if new_spec in specs:
        cur = specs.index(new_spec)
    else:
        specs.append(new_spec)
        cur = len(specs) - 1
    if part.get("current") == cur and part.get("specs"):
        return versions[-1]  # already current: nothing to commit
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["partition"] = {
        "specs": specs,
        "current": cur,
        "values": dict(part.get("values") or {}),
    }
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


# ---------------------------------------------------------------------------
# Column mapping — RENAME COLUMN without rewriting a byte (Delta's
# column-mapping shape, reduced to the name layer): the manifest carries
# {"column_mapping": {logical: physical}} where PHYSICAL is the name
# inside the parquet files and LOGICAL is what every reader sees. A
# rename is a metadata-only commit that also re-keys the manifest's own
# references (schema, per-file stats, partition-spec columns), so the
# whole metadata plane speaks logical names and only the file bytes stay
# physical. Readers translate physical->logical in _manifest_df (one
# projection, codegen'd). EVERY writing verb keeps the table's ONE
# physical schema (r11 verdict #1 — rename stays metadata-only forever,
# Delta column-mapping parity): appends and DML rewrites scan logical
# (predicates/assignments/constraints speak logical names via
# _scan_with_pos(mapping=...)) and rename logical->physical just before
# the write; stats harvest physical and store logical (_stats_logical);
# the mapping rides every commit (MERGE included — its r12 file-skipping
# rewrite goes through the same logical-scan/physical-write path). Full
# overwrites (write_snapshot overwrite, materialize_column_mapping) read
# logical and write logical, which MATERIALIZES the rename and clears
# the map. r13: MOR tables map natively too — base files and every
# delta group share the table's ONE physical schema, deltas arrive
# logical and write physical, _resolve_mor reads physical / emits
# logical, and rename_column re-keys the mor block's key/seq names.
# ---------------------------------------------------------------------------


def _apply_mapping(df: DataFrame, mapping: dict | None) -> DataFrame:
    """physical -> logical rename on a freshly-scanned frame."""
    if not mapping:
        return df
    return df.withColumnsRenamed(
        {phys: log for log, phys in mapping.items()}
    )


def rename_column(path: str, old: str, new: str) -> int:
    """Rename ``old`` to ``new`` as a METADATA-ONLY commit: no file is
    read or written. The manifest's schema / stats / partition-spec
    references re-key to the new logical name and the column_mapping
    records logical->physical so reads translate on the fly — on MOR
    tables too (r13): base files and delta groups share the table's one
    physical schema, the mor block's key/seq references re-key with the
    schema. Refuses: a column referenced by a CHECK constraint (the
    stored SQL would silently break — Delta refuses the same), and a
    new name colliding with any live logical or physical name. Returns
    the new version."""
    import re as _re
    import uuid

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    schema = dict(man.get("schema") or {})
    if old not in schema:
        raise ValueError(f"no column {old!r} (have {sorted(schema)})")
    mapping = dict(man.get("column_mapping") or {})
    # colliding with another column's logical or physical name is
    # refused; the renamed column's OWN physical name is fine (that's a
    # rename-back, which clears its map entry)
    physicals = {mapping.get(c, c) for c in schema if c != old}
    if new in schema or new in physicals:
        raise ValueError(
            f"column {new!r} collides with a live logical or physical "
            "name"
        )
    _check_reserved([new], ("_fname", "_pos", "_ci", "_rn", MOR_OP_COL))
    for cname, expr in (man.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(old)}\b", expr):
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}) — drop the constraint first"
            )
    for gcol, expr in (man.get("generated") or {}).items():
        if gcol == old or _re.search(rf"\b{_re.escape(old)}\b", expr):
            raise ValueError(
                f"column {old!r} is part of generated column "
                f"{gcol!r} ({expr}) — drop_generated_column first"
            )
    # chain-collapse: the physical name is wherever the data actually is
    mapping[new] = mapping.pop(old, old)
    if mapping[new] == new:
        del mapping[new]  # renamed back to its physical name
    manifest = {k: v for k, v in man.items()}
    manifest["schema"] = {
        (new if c == old else c): t for c, t in schema.items()
    }
    manifest["column_mapping"] = mapping
    if man.get("stats"):
        manifest["stats"] = {
            rel: {(new if c == old else c): v for c, v in per.items()}
            for rel, per in man["stats"].items()
        }
    if man.get("partition"):
        part = man["partition"]
        manifest["partition"] = {
            **part,
            "specs": [
                [
                    {**t, "col": (new if t["col"] == old else t["col"])}
                    for t in spec
                ]
                for spec in part["specs"]
            ],
        }
    if man.get("mor"):
        # r13 (r12 verdict #3): rename stays metadata-only on MOR too —
        # base files AND delta groups share the table's ONE physical
        # schema, so the same logical->physical map translates every
        # commit group; the mor block's key/seq references are LOGICAL
        # and re-key with the schema (upsert callers speak logical)
        mor = man["mor"]
        manifest["mor"] = {
            **mor,
            "key_cols": [
                (new if c == old else c) for c in mor["key_cols"]
            ],
            "seq_col": new if mor["seq_col"] == old else mor["seq_col"],
        }
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def column_mapping(path: str) -> dict[str, str]:
    """The latest version's ``{logical: physical}`` map (empty when every
    column's file name matches its logical name)."""
    versions = snapshot_versions(path)
    if not versions:
        return {}
    return dict(
        _load_manifest(path, versions[-1]).get("column_mapping") or {}
    )


def materialize_column_mapping(spark: SparkSession, path: str) -> int:
    """Rewrite the table once with logical file names and clear the map
    — the verb that re-admits the partial-rewrite DML suite. Plain
    read-logical/write-overwrite, so it inherits the commit protocol
    (and re-validates nothing: the rows are unchanged)."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    return write_snapshot(spark, read_snapshot(spark, path), path)


# ---------------------------------------------------------------------------
# Schema evolution beyond additive (r11 verdict #6): TYPE WIDENING and
# DROP COLUMN as metadata-only commits. The committed schema is the
# authority; when it diverges from the file footers (wider types, or
# columns the files still carry but the schema no longer names), every
# reader FORCES the scan schema (spark.read.schema(...) — the Spark 4
# vectorized parquet reader upcasts int32->bigint / float->double in the
# scan, and omitted columns are never read; see _phys_schema). Rewrite
# verbs then materialize the evolution file-by-file as they touch data,
# and a full overwrite clears the markers.
# ---------------------------------------------------------------------------

#: published-safe widenings (the Iceberg/Delta type-promotion lattice
#: restricted to what parquet's physical types re-read losslessly)
_WIDENINGS = {
    "tinyint": ("smallint", "int", "bigint"),
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
    "float": ("double",),
}


def widen_column_type(path: str, col: str, new_type: str) -> int:
    """Widen ``col``'s committed type (int->long, float->double, ...) as
    a METADATA-ONLY commit: no file is read or written; readers upcast
    in the parquet scan from this version on, writers must supply the
    widened type (the additive-evolution check now speaks it), and any
    rewrite materializes it. Narrowing and non-numeric changes refuse —
    they would corrupt values silently. Returns the new version."""
    import uuid

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    schema = dict(man.get("schema") or {})
    if col not in schema:
        raise ValueError(f"no column {col!r} (have {sorted(schema)})")
    cur = schema[col]
    if new_type == cur:
        return versions[-1]  # already that type: nothing to commit
    if new_type not in _WIDENINGS.get(cur, ()):
        lattice = ", ".join(
            "{}->{}".format(k, "/".join(v))
            for k, v in sorted(_WIDENINGS.items())
        )
        raise ValueError(
            f"cannot change column {col!r} from {cur} to {new_type}: "
            f"only widenings are metadata-safe ({lattice}); a "
            "narrowing/retype needs a deliberate rewrite "
            "(enforce_schema=False)"
        )
    mapping = man.get("column_mapping") or {}
    manifest = {k: v for k, v in man.items()}
    manifest["schema"] = {
        c: (new_type if c == col else t) for c, t in schema.items()
    }
    widened = dict(man.get("widened") or {})
    widened[mapping.get(col, col)] = new_type  # keyed PHYSICAL: stable
    # across renames, which only move the logical layer
    manifest["widened"] = widened
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def drop_column(path: str, col: str) -> int:
    """DROP COLUMN as a METADATA-ONLY commit (the mapping-layer
    tombstone): the column leaves the logical schema — every reader
    stops projecting it — while the file bytes stay untouched until
    rewrites shed them naturally. The PHYSICAL name is recorded as
    dropped so an append cannot re-introduce a same-named column whose
    old-file bytes would silently resurrect (Delta needs id-based
    mapping for safe reuse; here the overwrite that clears the
    tombstone is the re-admission point). Refuses: the last column, a
    column in the CURRENT partition spec, one referenced by a CHECK
    constraint or generated column, and MOR tables. Returns the new
    version."""
    import re as _re
    import uuid

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    if man.get("mor"):
        mor = man["mor"]
        if col in mor["key_cols"] or col == mor["seq_col"]:
            raise ValueError(
                f"column {col!r} is the MOR table's key/seq — the delta "
                "chain resolves by it; compact_mor before dropping"
            )
    schema = dict(man.get("schema") or {})
    if col not in schema:
        raise ValueError(f"no column {col!r} (have {sorted(schema)})")
    if len(schema) == 1:
        raise ValueError("cannot drop the last column")
    part = man.get("partition") or {}
    if part.get("specs"):
        cur_spec = part["specs"][part["current"]]
        if any(t["col"] == col for t in cur_spec):
            raise ValueError(
                f"column {col!r} is in the current partition spec — "
                "evolve_partition_spec away from it first"
            )
    for cname, expr in (man.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}) — drop the constraint first"
            )
    for gcol, expr in (man.get("generated") or {}).items():
        if gcol == col or _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"column {col!r} is part of generated column {gcol!r} "
                f"({expr}) — drop_generated_column first"
            )
    mapping = dict(man.get("column_mapping") or {})
    phys = mapping.pop(col, col)
    manifest = {k: v for k, v in man.items()}
    manifest["schema"] = {c: t for c, t in schema.items() if c != col}
    manifest["column_mapping"] = mapping
    dropped = list(man.get("dropped") or [])
    if phys not in dropped:
        dropped.append(phys)
    manifest["dropped"] = dropped
    widened = dict(man.get("widened") or {})
    widened.pop(phys, None)
    manifest["widened"] = widened
    if man.get("stats"):
        manifest["stats"] = {
            rel: {c: v for c, v in per.items() if c != col}
            for rel, per in man["stats"].items()
        }
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def _write_partitioned_files(
    df: DataFrame,
    path: str,
    spec: list[dict],
    sid: int,
    dtypes: dict[str, str],
    compression: str,
    mapping: dict | None = None,
    max_records_per_file: int | None = None,
) -> tuple[list[str], dict[str, list]]:
    """Write ``df`` hive-laid-out under ``spec`` into a fresh
    ``data/<token>/`` and return ``(sorted new rel paths, {rel: [sid,
    tuple]})`` — the shared physical half of
    :func:`write_snapshot_partitioned`, :func:`optimize_partitions` and
    the DML rewrite router. Nothing is committed: the caller owns the
    manifest. ``df`` and ``spec`` speak LOGICAL names; ``mapping``
    (logical->physical) renames the data columns just before the write
    so a column-mapped table's files keep its one physical schema."""
    import glob
    import os
    import urllib.parse
    import uuid

    pcols = [f"_p{i}" for i in range(len(spec))]
    out = df
    for name, t in zip(pcols, spec):
        out = out.withColumn(name, _transform_expr(t, dtypes[t["col"]]))
    if mapping:
        out = out.withColumnsRenamed(mapping)
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    # EXPLICIT width (the session's tuned shuffle width): a bare
    # repartition(*pcols) is an AQE-coalescible exchange, and with
    # size-first coalescing a small commit collapses to ONE task that
    # writes every partition directory SEQUENTIALLY — per-file writer
    # setup serializes (measured 1.64s -> 1.03s for a 60-dir commit).
    # An explicit numPartitions pins the exchange (AQE leaves it alone):
    # tuples hash across the session's shuffle width, each tuple still
    # lands wholly in one task (one file per tuple per commit), and
    # file creation runs in parallel. Empty tasks write nothing.
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    w = (
        out.repartition(width, *pcols)
        .write.mode("error")
        .option("compression", compression)
    )
    if max_records_per_file is not None:
        # write_sharded's monster-file defense, wired into the hive
        # writer (r13, r12 verdict #6): a hot partition's fold splits
        # at the row cap instead of producing one unbounded file
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.partitionBy(*pcols).parquet(data_dir)
    int_kinds = [_spec_value_is_int(t, dtypes[t["col"]]) for t in spec]
    values: dict[str, list] = {}
    new_files = []
    for seq, p in enumerate(
        sorted(
            glob.glob(
                os.path.join(data_dir, "**", "*.parquet"), recursive=True
            )
        )
    ):
        # one writer TASK can emit several partition dirs (AQE coalesces
        # tiny shuffles), giving the SAME part-file basename in each —
        # but the DV layer keys row identity on basename (sidecars are
        # <basename>.dv). Re-name to a commit-unique basename before the
        # manifest commit; files are not yet referenced by anything.
        uniq = os.path.join(
            os.path.dirname(p), f"t{seq:05d}-{os.path.basename(p)}"
        )
        os.rename(p, uniq)
        rel = os.path.relpath(uniq, path)
        tup: list = [None] * len(spec)
        for seg in rel.split(os.sep):
            if "=" not in seg:
                continue
            k, _, raw = seg.partition("=")
            if k in pcols:
                i = pcols.index(k)
                if raw == _HIVE_NULL:
                    tup[i] = None
                else:
                    decoded = urllib.parse.unquote(raw)
                    tup[i] = int(decoded) if int_kinds[i] else decoded
        new_files.append(rel)
        values[rel] = [sid, tup]
    new_files.sort()
    return new_files, values


def optimize_partitions(
    spark: SparkSession,
    path: str,
    where: dict,
    compression: str = PARQUET_CODEC,
    target_file_bytes: int | None = 128 << 20,
    minor: bool = False,
) -> dict:
    """Partition-scoped OPTIMIZE (Delta's ``OPTIMIZE t WHERE ...`` — the
    maintenance shape that actually runs at 100 TB, where a full-table
    rewrite is never on the table): rewrite ONLY the files whose
    partition tuples match ``where`` (same predicate language as
    :func:`read_snapshot_partitioned`), folding each touched partition's
    small files into one file per tuple and MATERIALIZING any deletion
    vectors they carried; every other file carries into the new version
    untouched, tuples, stats and DVs intact. Files with no recorded
    tuple (DML rewrites, pre-partitioning appends) are conservatively
    INCLUDED in the rewrite and come out with real tuples under the
    current spec — so this verb doubles as the repair that restores full
    pruning after a COW delete/update degraded part of the table.

    One distributed job regardless of how many partitions match: the
    transform columns are recomputed from the SOURCE columns (the spec
    is derivable, that's the point of hidden partitioning) and the
    rewrite routes through the same hive writer as the partitioned
    commit. ``target_file_bytes`` (r13, r12 verdict #6) bounds the fold:
    the rows-per-file cap is derived from the matched files' observed
    bytes/row, so a HOT partition splits into ~target-sized files
    instead of one monster a single reader must chew through at 100x
    scale (``None`` restores the one-file-per-tuple fold). Returns
    ``{"version", "files_rewritten", "files_kept",
    "partitions_matched"}``; a no-match call commits nothing."""
    man, head, _ = _dml_head(path, None)
    mapping = man.get("column_mapping") or {}  # scan logical, write physical
    if man.get("mor"):
        # r14 (r13 verdict #4): partition-scoped maintenance on MOR —
        # fold only the matched partitions' chains
        return _optimize_partitions_mor(
            spark, path, man, where, compression, target_file_bytes,
            minor,
        )
    if minor:
        raise ValueError(
            "minor=True folds a MOR delta chain — this table has none"
        )
    part = man.get("partition")
    if not part:
        raise ValueError(
            "table has no partition spec — use optimize_snapshot / "
            "compact_small_files_snapshot for unpartitioned layouts"
        )
    spec = part["specs"][part["current"]]
    matched, total = partition_pruned_files(path, where, head, spark)
    if not matched:
        return {
            "version": head,
            "files_rewritten": 0,
            "files_kept": total,
            "partitions_matched": 0,
        }
    dv_map = man.get("dv") or {}
    # DV-aware scan of the matched files: existing deletes materialize
    # with the rewrite (the vector dies with the file it describes)
    sdata, scols = _scan_with_pos(
        spark, path, matched, {r: dv_map[r] for r in matched if r in dv_map},
        mapping, _phys_schema(man),
    )
    dtypes = {
        f.name: f.dataType.simpleString()
        for f in sdata.select(*scols).schema
    }
    max_records = None
    if target_file_bytes is not None:
        # derive the row cap from the matched files' OWN bytes/row
        # (footer metadata + stat calls only — these files are being
        # rewritten anyway, and compressed bytes in approximate
        # compressed bytes out)
        import os as _os

        import pyarrow.parquet as _pq

        tot_bytes = tot_rows = 0
        for rel in matched:
            fp = _os.path.join(path, rel)
            try:
                tot_bytes += _os.path.getsize(fp)
                tot_rows += _pq.ParquetFile(fp).metadata.num_rows
            except OSError:
                pass
        if tot_bytes and tot_rows:
            max_records = max(
                1, int(target_file_bytes * tot_rows // tot_bytes)
            )
    new_files, new_values = _write_partitioned_files(
        sdata.select(*scols), path, spec, part["current"], dtypes,
        compression, mapping, max_records_per_file=max_records,
    )
    import uuid

    version = _commit_change(
        path, man, uuid.uuid4().hex[:12], removed=matched,
        new_files=new_files, new_values=new_values,
    )
    return {
        "version": version,
        "files_rewritten": len(matched),
        "files_kept": len(man["files"]) - len(matched),
        "partitions_matched": len(
            {tuple(v[1]) for v in new_values.values()}
        ),
    }


def _optimize_partitions_mor(
    spark: SparkSession,
    path: str,
    man: dict,
    where: dict,
    compression: str,
    target_file_bytes: int | None,
    minor: bool,
) -> dict:
    """Partition-scoped OPTIMIZE on a MOR table (r14, r13 verdict #4 —
    previously the only maintenance verb was a whole-chain
    :func:`compact_mor`, so folding one hot partition of a 100 TB CDC
    table meant compacting everything):

    * ``minor=False`` (major, default): MATERIALIZE the matched
      partitions — resolve latest-wins over exactly their base + chain
      files, drop tombstones, and write the result as fresh BASE files
      through the hive writer (target-size fan-out); the matched files
      leave the manifest, every unmatched partition's base and delta
      files ride through byte-identical.
    * ``minor=True``: fold the matched partitions' DELTA files into one
      group appended at the chain's end (``keep_tombstones`` — they
      still mask base rows the fold never reads); base files are
      untouched everywhere.

    SOUNDNESS: the fold's matched file set must be closed under MOR
    keys — otherwise a loser row left in the chain at its old commit
    rank would outrank the folded winner (or a folded winner would
    shadow a newer unmatched row). Two table invariants provide the
    closure: spec sources are KEY columns (a key's tuple is constant
    across its commits) and every live file carries a REAL tuple (this
    verb refuses when any doesn't — hive-routed writes always tuple, so
    only pre-partitioning history can violate it, and a full
    :func:`compact_mor` repairs that). A key therefore has ALL of its
    rows in tuple-equal files: tuple-matched sets are key-closed, and
    per-partition resolution equals global resolution restricted to the
    partition."""
    import os
    import uuid

    import pyarrow.parquet as _pq

    versions = snapshot_versions(path)
    mor = man["mor"]
    part = man.get("partition")
    if not part or not part.get("specs"):
        raise ValueError(
            "MOR table has no partition spec — compact_mor folds the "
            "whole chain"
        )
    spec = part["specs"][part["current"]]
    bad = sorted(t["col"] for t in spec if t["col"] not in mor["key_cols"])
    if bad:
        raise ValueError(
            f"partition-scoped MOR optimize needs a key-column spec — "
            f"{bad} are not in {mor['key_cols']} (fold closure fails)"
        )
    vals = (part.get("values") or {})
    live = list(man["files"]) + [
        rel for grp in mor["deltas"] for rel in grp
    ]
    untupled = [rel for rel in live if vals.get(rel) is None]
    if untupled:
        raise ValueError(
            f"partition-scoped MOR optimize needs a partition tuple on "
            f"every live file — {len(untupled)} file(s) predate the "
            "layout (the matched set must be key-closed to fold "
            "soundly); run compact_mor (full) once to repair"
        )
    matched_base = set(_partition_keep(part, man["files"], where, spark))
    matched_groups = [
        set(_partition_keep(part, grp, where, spark))
        for grp in mor["deltas"]
    ]
    matched = sorted(matched_base | set().union(*matched_groups, set()))
    n_delta_matched = sum(len(g) for g in matched_groups)
    no_op = {
        "version": versions[-1],
        "files_rewritten": 0,
        "files_kept": len(live),
        "partitions_matched": 0,
    }
    if minor and n_delta_matched == 0:
        return no_op
    if not matched:
        return no_op
    max_records = None
    if target_file_bytes is not None:
        fold_rels = (
            [r for g in matched_groups for r in g] if minor else matched
        )
        tot_bytes = tot_rows = 0
        for rel in fold_rels:
            fp = os.path.join(path, rel)
            try:
                tot_bytes += os.path.getsize(fp)
                tot_rows += _pq.ParquetFile(fp).metadata.num_rows
            except OSError:
                pass
        if tot_bytes and tot_rows:
            max_records = max(
                1, int(target_file_bytes * tot_rows // tot_bytes)
            )
    mapping = man.get("column_mapping") or {}
    carry_keys = ("column_mapping", "widened", "dropped")
    stats_cols = None
    if "stats" in man:
        stats_cols = sorted(
            {c for per in man["stats"].values() for c in per}
        )

    def _hive_out(df_logical):
        dtypes = {
            f.name: f.dataType.simpleString() for f in df_logical.schema
        }
        files, values = _write_partitioned_files(
            df_logical, path, spec, part["current"], dtypes, compression,
            mapping or None, max_records_per_file=max_records,
        )
        keep = [
            r for r in files
            if _pq.ParquetFile(
                os.path.join(path, r)
            ).metadata.num_rows > 0
        ]
        return keep, {r: values[r] for r in keep}

    if minor:
        # fold matched DELTA files only, tombstones kept (they mask
        # base rows this fold never reads)
        groups_m = [sorted(g) for g in matched_groups]
        synth = {
            "files": groups_m[0],
            "schema": man["schema"],
            "mor": {**mor, "deltas": groups_m[1:]},
        }
        for k in carry_keys:
            if man.get(k):
                synth[k] = man[k]
        folded = _resolve_mor(
            spark, path, synth,
            keep_tombstones=bool(mor.get("op_col")),
        )
        new_files, new_values = _hive_out(folded)
        new_deltas = [
            [rel for rel in grp if rel not in mset]
            for grp, mset in zip(mor["deltas"], matched_groups)
        ] + ([new_files] if new_files else [])
        manifest = {
            "files": man["files"],  # base untouched, byte for byte
            "schema": man["schema"],
            "mor": {**mor, "deltas": new_deltas},
        }
        n_rewritten = n_delta_matched
    else:
        sub = {
            "files": sorted(matched_base),
            "schema": man["schema"],
            "mor": {**mor, "deltas": [sorted(g) for g in matched_groups]},
        }
        for k in carry_keys:
            if man.get(k):
                sub[k] = man[k]
        folded = _resolve_mor(spark, path, sub)  # tombstones shed
        new_files, new_values = _hive_out(folded)
        new_deltas = [
            [rel for rel in grp if rel not in mset]
            for grp, mset in zip(mor["deltas"], matched_groups)
        ]
        manifest = {
            "files": [
                rel for rel in man["files"] if rel not in matched_base
            ] + new_files,
            "schema": man["schema"],
            "mor": {**mor, "deltas": new_deltas},
        }
        n_rewritten = len(matched)
    if mapping:
        manifest["column_mapping"] = mapping
    _carry_partition_mor(man, manifest, new_files, new_values)
    if "txn" in man:
        manifest["txn"] = man["txn"]
    if stats_cols is not None:
        kept_rels = set(manifest["files"]) | {
            rel for grp in manifest["mor"]["deltas"] for rel in grp
        }
        stats = {
            rel: man["stats"][rel]
            for rel in kept_rels - set(new_files)
            if rel in man["stats"]
        }
        stats.update(_stats_logical(new_files, path, stats_cols, mapping))
        manifest["stats"] = stats
    # read-modify-write: a concurrent commit invalidates the fold
    version = _commit_manifest(path, manifest, uuid.uuid4().hex[:12])
    return {
        "version": version,
        "files_rewritten": n_rewritten,
        "files_kept": len(live) - n_rewritten,
        "partitions_matched": len(
            {tuple(vals[rel][1]) for rel in matched}
        ),
    }


# ---------------------------------------------------------------------------
# Generated columns (Delta's GENERATED ALWAYS AS shape): a column
# declared equal to an expression over the row's other columns. Writers
# may OMIT the column — every row-writing verb computes it — or supply
# it, in which case the verb validates value-equality (null-safe) in the
# same single aggregate pass as CHECK constraints and refuses a
# mismatch. The map rides manifests exactly like constraints
# (_commit_manifest inherits it through rewrite commits).
# ---------------------------------------------------------------------------


def _apply_generated(df: DataFrame, gen: dict, schema: dict, verb: str):
    """Compute absent generated columns / validate present ones; returns
    the (possibly widened) frame. ``schema`` = committed {col: type} for
    the cast that keeps generated types stable across writers."""
    from pyspark.sql import functions as F

    if not gen:
        return df
    present = set(df.columns)
    checks = {}
    for col, expr in sorted(gen.items()):
        target = schema.get(col)
        val = F.expr(expr)
        if target:
            val = val.cast(target)
        if col in present:
            checks[f"generated column {col!r} ({expr})"] = (
                F.col(col).eqNullSafe(val)
            )
        else:
            df = df.withColumn(col, val)
    if checks:
        aggs = [
            F.sum(F.when(~ok, 1).otherwise(0)).alias(str(i))
            for i, ok in enumerate(checks.values())
        ]
        try:
            counts = df.agg(*aggs).first()
        except Exception as e:  # noqa: BLE001
            raise ValueError(
                f"{verb}: generated-column expression failed to evaluate "
                f"against the written schema {df.columns}: {e}"
            ) from e
        bad = [
            name
            for i, name in enumerate(checks)
            if counts[str(i)]
        ]
        if bad:
            raise ValueError(
                f"{verb}: supplied values disagree with "
                + "; ".join(bad)
                + " — omit the column to have it computed"
            )
    return df


def list_generated_columns(path: str) -> dict[str, str]:
    versions = snapshot_versions(path)
    if not versions:
        return {}
    return dict(_load_manifest(path, versions[-1]).get("generated") or {})


def add_generated_column(
    spark: SparkSession, path: str, col: str, expr_sql: str
) -> int:
    """Declare EXISTING column ``col`` as GENERATED ALWAYS AS
    ``expr_sql`` — metadata-only, after validating that the committed
    data already satisfies the equality (the add_check_constraint
    discipline: the invariant holds from the moment it exists). Writers
    may then omit the column (computed) or supply it (validated).
    Returns the new version."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    schema = man.get("schema") or {}
    if col not in schema:
        raise ValueError(
            f"generated column {col!r} must already exist in the schema "
            f"(have {sorted(schema)}) — declaring adds the contract, "
            "not the column"
        )
    gen = dict(man.get("generated") or {})
    if col in gen:
        raise ValueError(
            f"column {col!r} is already generated ({gen[col]!r})"
        )
    import re as _re

    if _re.search(rf"\b{_re.escape(col)}\b", expr_sql):
        raise ValueError(
            f"generated column {col!r} cannot reference itself"
        )
    _apply_generated(
        _manifest_df(spark, path, man), {col: expr_sql}, schema,
        f"add_generated_column({col!r}) on existing data",
    )
    gen[col] = expr_sql
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["generated"] = gen
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def drop_generated_column(path: str, col: str) -> int:
    """Remove the generated contract on ``col`` (the column stays) with
    a metadata-only commit; passed explicitly so the inherit carry
    cannot resurrect it."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    man = _load_manifest(path, versions[-1])
    gen = dict(man.get("generated") or {})
    if col not in gen:
        raise ValueError(f"no generated column {col!r} (have {sorted(gen)})")
    del gen[col]
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["generated"] = gen
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])
