"""Physical-layout strategies for the index and blob tables at scale.

The reference's layout tuning is Mongo's _id index; a Spark deployment has
richer levers (SURVEY §4.2):

- partitioned writes (plans.ingest.write_blobs) -> partition pruning;
- sorted-by-unique_id parquet (bench index_layout; plans.maintenance keeps
  the per-file sort) -> row-group min/max pruning for point lookups;
- BUCKETED tables (this module) -> shuffle-free joins for the hot join keys
  (index ⨝ blob on location_key; replay id-sets ⨝ index on unique_id).

Bucketing pre-shuffles ONCE at write time: both sides of a join bucketed by
the same key into the same bucket count join with NO Exchange — at 100 TB
that converts the resubmit join's dominant cost into a map-side zip.
Verified by the no-Exchange plan assertion in tests/test_layout.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.  Managed
    is required — Spark tracks bucketing metadata in the catalog, not in
    parquet files."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    writer = writer.sortBy(sort_col or bucket_col)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on the bucket key (no shuffle).

    The merge hint keeps the planner on sort-merge: for table sizes under the
    broadcast threshold it would otherwise pick a broadcast join and skip the
    bucket layout entirely (fine at small scale — but this function exists to
    exercise the big-table path)."""
    left = spark.table(left_table).hint("merge")
    return left.join(spark.table(right_table).hint("merge"), on, how)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    sort_col: str | None = None,
) -> int:
    """Rewrite a parquet table into ~target-sized files (the small-files
    problem: streaming foreachBatch appends one file per partition per
    micro-batch; a day of 30s triggers is ~2880 files per partition, and
    open/footer costs dominate scans).  Returns the new file count.

    Rewrite lands in a temp dir, then swaps in via TWO renames (live ->
    trash, new -> live) so the data always exists under SOME name — a
    crash between the renames leaves the layout under the trash name
    (recover by renaming back), never deleted-with-no-replacement.  The
    trash uses the SAME `.__trash_` convention as maintenance.compact_parquet
    and is DEFERRED to the next compact call (immediate deletion would
    yank files from under a concurrent scan that listed the old layout —
    the maintenance-module swap contract).  Sizing + swap route through
    the Hadoop FileSystem API (plans.fsutil), so this works on any scheme
    Spark can write; on object stores prefer a manifest/Delta (rename is
    copy+delete there)."""
    import math

    from persistor_spark.plans import fsutil, maintenance

    # r11: heal a PRIOR crashed swap before reading, and clear stale
    # orphan copies while the live dir is intact — the same recover /
    # at-most-one-in-flight-copy contract as maintenance.compact_parquet
    # (whose dotted `.__compact_` naming this now shares, so ONE recovery
    # function covers both writers of a path)
    maintenance.recover_swap(spark, path)
    maintenance.drop_compact_orphans(spark, path)
    df = spark.read.parquet(path)
    total_bytes = fsutil.total_size(spark, path)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    tmp = f"{path}.__compact_{maintenance.swap_tag()}"
    out = df.repartition(n_files)
    if sort_col:
        out = out.sortWithinPartitions(sort_col)
    out.write.parquet(tmp)
    # sweep trash from PRIOR cycles (a full interval for readers to drain),
    # then swap; this cycle's trash survives until the next call
    for old in fsutil.glob(spark, f"{fsutil.escape(path)}.__trash_*"):
        fsutil.delete(spark, old, recursive=True)
    trash = f"{path}.__trash_{maintenance.swap_tag()}"
    fsutil.rename(spark, path, trash)
    fsutil.rename(spark, tmp, path)
    return n_files


def write_minmax_manifest(
    spark: SparkSession, table_path: str, manifest_path: str, col: str = "unique_id"
) -> int:
    """Iceberg-lite file manifest: one row per parquet data file with the
    min/max of `col` (+ row count).  A point/IN-list lookup then consults
    the manifest (ONE small file) and opens only the matching data files —
    at 100 TB the table's file listing is ~10^6 entries and dominates
    point-lookup latency (the sf1 probe in ARCHITECTURE.md §6 already shows
    it at sf-local scale); the manifest turns that into metadata the way
    Iceberg/Delta manifests do.  Returns the number of files manifested.

    Rebuild after each layout rewrite/compaction; streaming appends would
    instead append manifest rows per commit (the Delta transaction-log
    shape)."""
    from pyspark.sql import functions as F

    mf = (
        spark.read.parquet(table_path)
        .groupBy(F.col("_metadata.file_path").alias("file"))
        .agg(
            F.min(col).alias("min_v"),
            F.max(col).alias("max_v"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    mf.coalesce(1).write.mode("overwrite").parquet(manifest_path)
    return spark.read.parquet(manifest_path).count()


def update_minmax_manifest(
    spark: SparkSession,
    manifest_path: str,
    removed_files,
    added_files,
    col: str = "unique_id",
) -> int:
    """INCREMENTAL manifest maintenance: drop the entries for
    `removed_files`, scan ONLY `added_files` for fresh min/max entries,
    and swap the updated manifest in.  A targeted delete that rewrites 3
    files out of 10^6 must not rescan the table to re-derive the other
    999 997 entries (at 10x local scale the full rebuild was ~80% of
    delete_by_key's wall time).

    Idempotent under replay (the crash-recovery path calls this): stale
    entries for `added_files` are dropped before the fresh ones append,
    so re-running after a crash between manifest-write and journal-delete
    cannot duplicate a file's entry — a duplicated manifest row would
    make pruned scans read that file twice.  Returns the number of fresh
    entries written (counting the full manifest would cost one more job).
    """
    from pyspark.sql import functions as F

    from persistor_spark.plans import fsutil

    _heal_manifest_swap(spark, manifest_path)
    added_files = list(added_files)
    fresh = None
    fresh_files: list[str] = []
    if added_files:
        fresh = (
            spark.read.parquet(*added_files)
            .groupBy(F.col("_metadata.file_path").alias("file"))
            .agg(
                F.min(col).alias("min_v"),
                F.max(col).alias("max_v"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        # persist: the fresh entries are consumed twice (the key collect
        # below + the union write) — uncached, every rewritten data file
        # would be scanned twice per delete
        fresh = fresh.persist()
        # the added files' manifest keys, in the same URI form the scan
        # emits (journal destinations are plain paths; the manifest
        # stores URIs).  CEILING NOTE (r13 VERDICT #4): this collect is
        # O(#files-touched-by-this-maintenance-op) — compaction/delete
        # granularity, the same driver-side plan Delta's OptimisticTxn
        # builds — never O(#files-in-table).  At 100 TB (~10^6 files) a
        # maintenance cycle still touches only its appendix/victim set;
        # if an op ever needed the WHOLE file list, it should consume the
        # manifest partition-at-a-time (toLocalIterator), not collect().
        fresh_files = [r["file"] for r in fresh.select("file").collect()]  # collect-ok: this op's appendix file list (ceiling note above)
    drop = set(removed_files) | set(fresh_files)
    # tolerate scheme-form differences for the removed set (file:///x vs /x)
    suffixes = tuple(f.split("://", 1)[-1] for f in removed_files)
    keep = spark.read.parquet(manifest_path).filter(~F.col("file").isin(list(drop)))
    if suffixes:
        cond = None
        for s in suffixes:
            c = F.col("file").endswith(F.lit(s))
            cond = c if cond is None else (cond | c)
        keep = keep.filter(~cond)
    # write to a sibling then swap: the source manifest is an input of this
    # very plan, so an in-place overwrite would read-while-truncating.
    # swap_tag suffixes make _heal_manifest_swap's "newest" pick temporal
    # (same r11-ADVICE fix as recover_swap)
    from persistor_spark.plans import maintenance

    tmp = f"{manifest_path}__upd_{maintenance.swap_tag()}"
    updated = keep.unionByName(fresh) if fresh is not None else keep
    updated.coalesce(1).write.parquet(tmp)
    trash = f"{manifest_path}__upd_trash_{maintenance.swap_tag()}"
    fsutil.rename(spark, manifest_path, trash)
    fsutil.rename(spark, tmp, manifest_path)
    fsutil.delete(spark, trash, recursive=True)
    if fresh is not None:
        fresh.unpersist()
    return len(fresh_files)


def _heal_manifest_swap(spark, manifest_path: str) -> None:
    """Finish a manifest swap interrupted between update_minmax_manifest's
    two renames: in that window the manifest exists only under the
    `__upd_<hex>` name (the fully-written update — it was complete before
    the first rename) or, degenerately, only under `__upd_trash_<hex>`.
    Without this, a crash there bricked every later recovery replay with
    PATH_NOT_FOUND on the manifest read — violating the delete journal's
    any-point-resumability.  Also sweeps stale swap leftovers.  Single
    maintenance writer assumed (same contract as the delete journal)."""
    from persistor_spark.plans import fsutil

    esc = fsutil.escape(manifest_path)
    leftovers = fsutil.glob(spark, f"{esc}__upd_*")
    if not fsutil.exists(spark, manifest_path):
        upd = sorted(p for p in leftovers if "__upd_trash_" not in p)
        trash = sorted(p for p in leftovers if "__upd_trash_" in p)
        if upd:  # the updated manifest, complete by construction
            fsutil.rename(spark, upd[-1], manifest_path)
        elif trash:  # no update tmp survived: restore the pre-swap manifest
            fsutil.rename(spark, trash[-1], manifest_path)
        leftovers = fsutil.glob(spark, f"{esc}__upd_*")
    if fsutil.exists(spark, manifest_path):
        for p in leftovers:
            fsutil.delete(spark, p, recursive=True)


def manifest_pruned_scan(
    spark: SparkSession,
    table_path: str,
    manifest_path: str,
    values,
    col: str = "unique_id",
) -> DataFrame:
    """Scan only the data files whose [min_v, max_v] range can contain one
    of `values`; equivalent to reading the whole table with an isin filter
    (row-group pruning still applies within each opened file).  The manifest
    filter runs distributed; only the surviving file PATHS (a handful for
    point/IN-list lookups) are collected."""
    import functools

    from pyspark.sql import functions as F

    values = list(values)
    if not values:  # reduce() over an empty list has no initializer; the
        # cached sibling returns the empty scan for the same input
        return spark.read.parquet(table_path).filter(F.lit(False))
    mf = spark.read.parquet(manifest_path)
    keep = functools.reduce(
        lambda a, b: a | b,
        [(F.lit(v) >= F.col("min_v")) & (F.lit(v) <= F.col("max_v")) for v in values],
    )
    # CEILING NOTE (r13 VERDICT #4): collects only the PRUNED file list —
    # the handful of range-hits for the probed keys, not the table's file
    # inventory; a scan that ever needed every file should go through a
    # plain spark.read of the table root instead of enumerating names
    files = [r["file"] for r in mf.filter(keep).select("file").collect()]  # collect-ok: pruned file list (ceiling note above)
    if not files:
        # miss: preserve schema via an empty scan of the table
        return spark.read.parquet(table_path).filter(F.lit(False))
    return spark.read.parquet(*files).filter(F.col(col).isin(values))


def load_manifest(spark: SparkSession, manifest_path: str) -> list:
    """Collect the manifest rows driver-side: [(file, min_v, max_v, n_rows)].
    The manifest is metadata — file-count-sized, not data-sized — and a
    serving layer holds it resident exactly like Mongo holds its _id index;
    re-reading it per lookup costs a Spark job per query."""
    return [
        (r["file"], r["min_v"], r["max_v"], r["n_rows"])
        for r in spark.read.parquet(manifest_path).collect()  # collect-ok: manifest rows, file-count-sized metadata (docstring)
    ]


def manifest_pruned_scan_cached(
    spark: SparkSession,
    table_path: str,
    manifest_rows: list,
    values,
    col: str = "unique_id",
) -> DataFrame:
    """manifest_pruned_scan against a preloaded manifest: the file pruning
    is a pure driver-side range check (microseconds), so a point lookup is
    ONE Spark job over the single matching file."""
    from pyspark.sql import functions as F

    values = list(values)
    files = [
        f
        for f, lo, hi, _ in manifest_rows
        if any(lo <= v <= hi for v in values)
    ]
    if not files:
        return spark.read.parquet(table_path).filter(F.lit(False))
    return spark.read.parquet(*files).filter(F.col(col).isin(values))


def manifest_lookup_resilient(
    spark: SparkSession,
    table_path: str,
    manifest_rows: list,
    values,
    manifest_path: str,
):
    """`unique_id` point lookup through a RESIDENT manifest that may have
    gone STALE under a concurrent compaction (r12 VERDICT #8c): a serving
    layer holds manifest rows in memory across many lookups, while
    `maintenance.compact_small_files` swaps data files underneath it —
    readers hold no lock, so a resident entry can point at a file the
    swap has since removed.  Try the pruned scan against the resident
    rows; on a missing-file failure, reload the manifest ONCE and retry.

    One reload is sufficient BECAUSE of the swap's phase order (moves ->
    manifest swap -> removals): at every instant the ON-DISK manifest
    references only live files — a crash before the manifest swap leaves
    the old entries pointing at still-present originals (removals come
    last), after it the new entries point at the already-moved cmp-*
    files — so a fresh load always serves, and compactions preserve
    content, so the healed result equals what the stale lookup would
    have returned.  The result is materialized (localCheckpoint) before
    returning: a lazy plan could otherwise outlive ANOTHER compaction
    and fail at action time outside the heal.

    Returns (df, fresh_manifest_rows_or_None) — the second element is
    the reloaded manifest when the heal fired (cache it), None when the
    resident rows were still valid."""
    from persistor_spark.plans import fsutil

    try:
        df = manifest_pruned_scan_cached(spark, table_path, manifest_rows, values)
        return df.localCheckpoint(eager=True), None
    except Exception as exc:  # noqa: BLE001 — classified below
        if not fsutil.is_missing_file_error(exc):
            raise
    fresh = load_manifest(spark, manifest_path)
    df = manifest_pruned_scan_cached(spark, table_path, fresh, values)
    return df.localCheckpoint(eager=True), fresh


def zorder_plan(bits_x: int, bits_y: int) -> list[tuple[str, int, int]]:
    """The (dimension, source_bit, target_bit) interleave schedule for a
    variable-width MSB-aligned Morton code.  Interleaving MSB-first at
    each dimension's OWN scale is what makes unequal domains work: the
    j-th step takes bit (bits_x-1-j) of x and bit (bits_y-1-j) of y, so
    the top output bits alternate x's MSB, y's MSB, ... and every prefix
    of the code splits BOTH domains evenly.  (A fixed-width or
    value-aligned interleave gives a small domain — e.g. suppkey < 2^4
    against partkey < 2^16 — only LOW code bits; every file-sized code
    range then spans its entire domain and pruning on it is lost.)
    Shared so the SQL oracle can emit the byte-identical expression."""
    width = bits_x + bits_y
    p = width
    plan = []
    for j in range(max(bits_x, bits_y)):
        if j < bits_x:
            p -= 1
            plan.append(("x", bits_x - 1 - j, p))
        if j < bits_y:
            p -= 1
            plan.append(("y", bits_y - 1 - j, p))
    return plan


def zorder_code(col_x: str, col_y: str, bits_x: int = 16, bits_y: int = 16):
    """Morton (Z-order) interleave of two non-negative integer columns,
    MSB-aligned per dimension (see zorder_plan).  Rows close in code are
    close in BOTH dimensions at their own scales, so sorting by the code
    gives every file a tight min/max envelope on x AND y simultaneously —
    the multi-column data-skipping layout (Delta OPTIMIZE ZORDER
    analogue) that a single-column sort can only provide for its own
    column.

    Pure JVM bit arithmetic (bits_x + bits_y shift/and/or terms folded
    into one expression), no shuffle of its own."""
    from pyspark.sql import functions as F

    cols = {"x": F.col(col_x).cast("long"), "y": F.col(col_y).cast("long")}
    code = F.lit(0).cast("long")
    for dim, src, dst in zorder_plan(bits_x, bits_y):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(cols[dim], src).bitwiseAND(F.lit(1)), dst)
        )
    return code


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    bits_x: int = 16,
    bits_y: int = 16,
    n_files: int = 16,
) -> None:
    """Write `df` as parquet clustered by the Z-order of (col_x, col_y):
    range-partition on the Morton code into `n_files` and sort within each
    file, so parquet footer min/max stats prune files for range predicates
    on EITHER dimension (~sqrt locality per dim), not just a lead sort
    column.  The code is layout-only — dropped before write."""
    coded = df.withColumn("__z", zorder_code(col_x, col_y, bits_x, bits_y))
    (
        coded.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def files_containing(spark: SparkSession, path: str, predicate) -> int:
    """Number of distinct parquet files holding rows matching `predicate`
    — the observable zone-map effectiveness metric: a well-clustered
    layout concentrates any selective box predicate into few files (and
    footer-stats pruning then skips the rest)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .filter(predicate)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
