"""Layout maintenance: compaction for append-heavy partitioned parquet.

The persisted index layouts here grow by appending one file per partition
per batch (`dedup.lsh_index_append`, `similarity.ivfpq_add_to_disk`, the
streaming ingest's per-trigger writes).  Appending is the right write path
— no rewrites in the hot loop — but after many cycles each partition holds
many small files and scan cost goes listing/open-bound.  `compact_parquet`
is the periodic fix: rewrite each partition's row set into ~target-sized
files, swapping the layouts with deferred cleanup of the old one.

All file manipulation here goes through `plans.fsutil` (the Hadoop
FileSystem API), so these routines run against any store Spark itself can
reach — file:/, hdfs://, gs://, abfss://, s3a:// — not just the local
filesystem (r6 ADVICE item; the earlier implementation used
os.rename/os.remove and was local-only).

Swap semantics (be precise — this runs inside live streaming loops via
`compact_every`):

- The compacted copy is fully written to a sibling temp dir before any
  rename, so the data itself is never at risk.
- The swap is TWO renames (old -> trash, new -> live).  Rename can't
  exchange two directories atomically, so there is a brief window between
  them where the live path does not exist: a reader LISTING the dataset
  exactly then sees FileNotFound, and a crash there leaves the layout
  only under the trash name (recover by renaming it back).  Readers that
  already listed the old layout keep their snapshot — parquet files are
  immutable and the old files live on under the trash name.
- The old layout is NOT deleted in the same call.  Deleting immediately
  would yank files out from under a concurrent scan that listed the old
  file set but hasn't opened every file yet.  Instead each call removes
  the trash dirs left by PREVIOUS compactions of the same path — an
  in-flight scan gets at least one full compaction interval to finish,
  which bounds trash growth at one extra copy of the dataset.  Pass
  `drop_trash_now=True` only when no concurrent readers exist (tests,
  offline maintenance).

On object stores, directory rename is the connector's copy+delete
(O(data), non-atomic) — the two-rename swap still yields
duplicates-or-old rather than data loss, but at serious scale compact
into a new versioned prefix and flip a pointer instead (the Iceberg/
Delta pattern this hand-rolled layout approximates); that also removes
the no-live-path window.
"""

from __future__ import annotations

import os
import time
import uuid

from persistor_spark.plans import fsutil

# The file size compact_small_files merges small files up to.
_TARGET_FILE_BYTES = 128 << 20


def swap_tag() -> str:
    """Suffix for `__compact_` / `__trash_` swap siblings: a `t` sentinel,
    a fixed-width nanosecond timestamp, then a uuid nonce.  Fixed width
    makes plain lexicographic order == temporal order, so `recover_swap`'s
    "newest copy" choice is a real recency choice (r11 ADVICE: uuid-only
    suffixes sorted lexicographically, i.e. randomly).  The leading `t`
    sorts after every hex character, so ANY tagged name outranks any
    legacy 8-hex suffix — the safe direction: a tagged copy is always
    newer than a pre-migration leftover."""
    return f"t{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"


def sweep_trash(spark, path: str) -> int:
    """Remove trash dirs left by previous `compact_parquet` calls on
    `path`.  Returns the number of dirs removed."""
    removed = 0
    for old in fsutil.glob(spark, f"{fsutil.escape(path)}.__trash_*"):
        fsutil.delete(spark, old, recursive=True)
        removed += 1
    return removed


def drop_compact_orphans(spark, path: str) -> int:
    """Remove stale `__compact_` copies of `path` while the live dir is
    INTACT (a crash between the tmp write and the first rename leaves an
    orphaned copy behind).  Clearing orphans whenever the live dir exists
    guarantees at most the one in-flight copy exists at any crash point,
    which is what makes `recover_swap`'s choice unambiguous — the same
    invariant the receiver's `_drop_compact_orphans` maintains for its
    private dirs.  No-op (0) when `path` is missing."""
    if not fsutil.exists(spark, path):
        return 0
    removed = 0
    # second pattern: layout.compact's pre-r11 tmp naming had no dot
    # ('{path}__compact_'); orphans from a pre-migration crashed compaction
    # would otherwise never be swept (r11 ADVICE — disk leak only, they are
    # never read)
    esc = fsutil.escape(path)
    for pattern in (f"{esc}.__compact_*", f"{esc}__compact_*"):
        for old in fsutil.glob(spark, pattern):
            fsutil.delete(spark, old, recursive=True)
            removed += 1
    return removed


def recover_swap(spark, path: str) -> str | None:
    """Finish a `compact_parquet` swap that crashed between its two
    renames (r11 self-audit: the receiver recovers its own dirs this way,
    but a crashed compaction of any OTHER layout — the LSH/IVF-PQ index
    tables, the persisted query index — left the live path missing until
    manual repair).  The swap writes the pruned copy IN FULL before any
    rename, so when the live path is missing the newest `__compact_` copy
    is complete and preferred; the displaced `__trash_` original is the
    fallback (a superset with the pre-compaction layout).  Returns which
    arm restored ("compact" / "trash"), or None when no recovery was
    needed (including when a RACING recoverer restored it first).

    Concurrency contract (r11 ADVICE): COMPACTION itself is single-writer
    per path — two unsynchronized compactors can interleave their swap
    renames arbitrarily and no recovery can untangle that.  RECOVERY,
    however, runs unlocked from every heal-on-read caller (lsh_index_load,
    ivfpq_load), so two readers may race this function: the rename goes
    through `_claim_rename`, which re-checks existence, treats a failed
    rename as "another recoverer won", and detects-and-undoes the
    nested-directory arm of Hadoop rename semantics (renaming a dir onto
    an EXISTING dir nests it inside rather than failing).  "Newest copy"
    is decided by the embedded `swap_tag` timestamp (fixed-width, so the
    lexicographic max IS the temporal max); legacy uuid-only suffixes
    sort before any tagged name and by that rule lose to tagged copies.

    Call before reading a layout that tolerates maintenance crashes;
    `compact_parquet` itself calls it first, so a re-run also heals."""
    if fsutil.exists(spark, path):
        return None
    tmps = sorted(fsutil.glob(spark, f"{fsutil.escape(path)}.__compact_*"))
    if tmps and _claim_rename(spark, tmps[-1], path):
        return "compact"
    if fsutil.exists(spark, path):  # a racing recoverer won the claim
        return None
    trashes = sorted(fsutil.glob(spark, f"{fsutil.escape(path)}.__trash_*"))
    if trashes and _claim_rename(spark, trashes[-1], path):
        return "trash"
    return None


def _claim_rename(spark, src: str, path: str) -> bool:
    """Best-effort claim of `path` by renaming `src` onto it; False when a
    concurrent recoverer restored `path` first (never raises for that).

    Hadoop FileSystem rename has no atomic not-exists precondition, and
    renaming a directory onto an EXISTING directory NESTS the source
    inside the destination instead of failing — so after a successful
    rename, check for the nested arm and undo it by moving the dir back
    out under its original name (it becomes an ordinary orphan for
    `drop_compact_orphans` to sweep).  The nested name cannot collide
    with real layout content: parquet layouts never contain a
    `*.__compact_*`/`*.__trash_*` child."""
    if fsutil.exists(spark, path):
        return False
    try:
        fsutil.rename(spark, src, path)
    except OSError:
        if fsutil.exists(spark, path) and not fsutil.exists(spark, src):
            return False  # lost the race: the other recoverer's copy is live
        raise
    nested = path.rstrip("/") + "/" + src.rstrip("/").rsplit("/", 1)[1]
    if fsutil.exists(spark, nested):
        fsutil.rename(spark, nested, src)
        return False
    return True


def compact_parquet(
    spark,
    path: str,
    partition_col: str | None = None,
    target_rows_per_file: int = 1_000_000,
    drop_trash_now: bool = False,
) -> dict:
    """Rewrite a (optionally partitioned) parquet dataset into ~target-sized
    files per partition.  Returns {"files_before": n, "files_after": m,
    "rows": r, "trash_swept": t}.

    File count per partition = ceil(partition_rows / target_rows_per_file),
    applied via a repartition on the partition column (each partition's data
    shuffles once; at 100 TB run this per-partition-subset instead of
    whole-table).  Row contents and the column contract are unchanged —
    callers like lsh_index_load / ivfpq_load read the compacted layout
    transparently.

    The displaced layout is parked under a trash name and deleted on the
    NEXT compaction of the same path (deferred cleanup — see the module
    docstring for the exact swap/visibility guarantees), unless
    `drop_trash_now` asserts there are no concurrent readers."""
    # deferred cleanup: trash from prior cycles has had a full compaction
    # interval for in-flight scans to drain
    from pyspark.sql import functions as F

    recover_swap(spark, path)  # heal a crashed prior swap before anything
    swept = sweep_trash(spark, path)
    # at most ONE in-flight copy may exist at any crash point, or a later
    # recover_swap could restore a STALE copy — clear orphans while live
    # is intact, before this run writes its own
    drop_compact_orphans(spark, path)
    before = len(fsutil.list_files(spark, path))
    df = spark.read.parquet(path)
    tmp = f"{path}.__compact_{swap_tag()}"
    if partition_col:
        # per-PARTITION-VALUE file sizing: hashing on the partition column
        # alone sends each value to exactly one task, so partitionBy would
        # emit ONE file per value however large — a salt bounded by
        # ceil(value_rows / target) splits hot values across tasks (the
        # per-value counts are one bounded agg: #values rows).  Sizing is
        # approximate where (value, salt) combos hash-collide into one
        # task; never worse than the unsalted single-file-per-value.
        # The total row count rides the same aggregate — a fragmented
        # layout's scan cost is listing/open-bound, so the separate
        # count() pass this used to make doubled the pre-write cost
        # (r14 opt, guide §1.2: fewer passes).
        per_rows = (
            df.groupBy(partition_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # collect-ok: per-partition-value counts, <= #values rows
        )
        rows = sum(r["n"] for r in per_rows)
        per = {
            r[0]: max(1, -(-r["n"] // target_rows_per_file)) for r in per_rows
        }
        n_files = sum(per.values())
        k_map = F.create_map(
            *[x for v, k in sorted(per.items()) for x in (F.lit(v), F.lit(k))]
        )
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            k_map[F.col(partition_col)],
        )
        writer = df.repartition(n_files, F.col(partition_col), salt)
    else:
        rows = df.count()
        n_files = max(1, -(-rows // target_rows_per_file))
        writer = df.repartition(n_files)
    w = writer.write.mode("overwrite")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(tmp)
    trash = f"{path}.__trash_{swap_tag()}"
    fsutil.rename(spark, path, trash)
    fsutil.rename(spark, tmp, path)
    if drop_trash_now:
        fsutil.delete(spark, trash, recursive=True)
    return {
        "files_before": before,
        "files_after": len(fsutil.list_files(spark, path)),
        "rows": rows,
        "trash_swept": swept,
    }


def compact_small_files(
    spark,
    path: str,
    partition_col: str | None = None,
    small_file_bytes: int | None = None,
    manifest_path: str | None = None,
    manifest_col: str = "unique_id",
) -> dict:
    """INCREMENTAL compaction: merge ONLY the small files of a layout,
    leaving already-compacted large files untouched — cost scales with
    small-file BYTES, not table bytes (r11 VERDICT #5: `compact_parquet`
    is an honest full rewrite, but a 100 TB table cannot rewrite itself
    per maintenance cycle; when 90% of the data already sits in
    target-sized files, this touches only the 10% appendix).

    A file is "small" under `small_file_bytes` (default half the 128 MiB
    target); only directories holding >= 2 small files participate
    (merging a lone small file buys nothing).  The merged replacements are written to a
    sibling tmp dir, then swapped in at per-FILE granularity: new files
    move INTO the live directory tree under fresh `cmp-*` names, then the
    originals are removed.  There is no whole-dir rename — the large
    files never move, which is what keeps the cost incremental.

    Crash safety mirrors `delete_by_key`: BEFORE any live-tree mutation a
    journal (`<path>.__smallcompact_journal_*.json`) records the whole
    remaining plan (tmp dir, pending moves with pre-assigned destination
    names, originals to remove); replay is idempotent per file (src gone
    + dst present = that move already happened).  A crash mid-swap leaves
    readers seeing duplicates-or-old until `recover_small_compactions`
    replays the journal — the heal-on-read index loaders and
    `compact_small_files` itself run it first.  A crash BEFORE the
    journal write leaves only an orphaned tmp dir (swept on the next
    call); the table is untouched.

    Partitioned layouts (`partition_col`) merge within each partition
    directory: one read job over all small files (basePath-aware, so the
    partition column survives), hash-repartitioned so each partition
    value's small rows land in one task -> one merged file per value.

    Concurrency contract: COMPACTION is single-writer per path (the
    same contract as compact_parquet / recover_swap); RECOVERY is
    race-tolerant — unlocked heal-on-read readers may replay the same
    journal concurrently (per-file idempotence + lost-rename-race
    detection in _replay_small_compaction).

    `manifest_path`: when the layout carries an Iceberg-lite min/max
    manifest (layout.write_minmax_manifest), pass it so the swap
    REPLACES exactly the merged files' entries (incremental —
    layout.update_minmax_manifest scans only the new cmp-* files, the
    same composition delete_by_key uses).  Without this, a compaction
    of a manifest-tracked table leaves pruned scans pointing at removed
    files.  The manifest step rides the journal, so a crash anywhere
    mid-swap still converges to a consistent manifest on replay.

    Returns {"files_before", "files_small", "files_after", "dirs"}."""
    # WHOLE-OP serialization (r14, the d51 pin): the table's maintenance
    # flock is held from recovery through the final journal delete, so a
    # concurrent delete_by_key (or second compactor) on the SAME table
    # serializes with this op instead of racing its planning scan against
    # our original-file removals.  Heal-on-read recoverers take the same
    # lock and simply wait.  Recovery of BOTH journal kinds runs inside
    # the lock (_locked=True — flock is not reentrant): a crashed delete's
    # half-swapped state must be healed before we list files to plan.
    # LOCAL FS ONLY: on object-store paths _recovery_guard degrades to a
    # no-op (flock has no remote analogue — see its docstring) and the
    # single-maintenance-process deployment contract is what serializes;
    # at cluster scale that contract belongs to a table-format
    # transaction log (ARCHITECTURE §7).
    with _recovery_guard(path):
        return _compact_small_files_locked(
            spark,
            path,
            partition_col,
            small_file_bytes,
            manifest_path,
            manifest_col,
        )


def _compact_small_files_locked(
    spark,
    path,
    partition_col,
    small_file_bytes,
    manifest_path,
    manifest_col,
) -> dict:
    import json
    import math

    recover_swap(spark, path)
    recover_small_compactions(spark, path, _locked=True)
    recover_pending_deletes(spark, path, _locked=True)
    _drop_smallcompact_orphans(spark, path)
    small_file_bytes = small_file_bytes or _TARGET_FILE_BYTES // 2
    all_files = fsutil.list_files_with_size(spark, path)
    groups: dict[str, list[tuple[str, int]]] = {}
    for f, sz in all_files:
        if sz < small_file_bytes:
            groups.setdefault(f.rsplit("/", 1)[0], []).append((f, sz))
    groups = {d: fs for d, fs in groups.items() if len(fs) >= 2}
    if partition_col is None:
        # a Hive-partitioned layout compacted flat would read the small
        # files WITHOUT basePath (partition columns silently dropped) and
        # land the merged replacements at the table root — refuse instead
        # of corrupting the layout (r12 ADVICE).  Compare SCHEME-NORMALIZED
        # paths: a 'file:' table path lists as scheme-less OS paths, and a
        # raw prefix check would silently skip the guard (r13 review).
        norm = lambda p: fsutil._local_path(p) or p  # noqa: E731
        live_prefix = norm(path).rstrip("/") + "/"
        for d0 in groups:
            d = norm(d0)
            rel = d[len(live_prefix):] if d.startswith(live_prefix) else ""
            hive_seg = next((s for s in rel.split("/") if "=" in s), None)
            if hive_seg:
                raise ValueError(
                    f"compact_small_files: {d!r} looks Hive-partitioned "
                    f"(segment {hive_seg!r}); pass partition_col="
                    f"{hive_seg.split('=', 1)[0]!r} so the merge is "
                    "basePath-aware and replacements stay in their partition"
                )
    stats = {
        "files_before": len(all_files),
        "files_small": sum(len(fs) for fs in groups.values()),
        "files_after": len(all_files),
        "dirs": len(groups),
    }
    if not groups:
        return stats
    small = [f for fs in groups.values() for f, _ in fs]
    small_bytes = sum(sz for fs in groups.values() for _, sz in fs)
    tmp = f"{path.rstrip('/')}.__smallcompact_{swap_tag()}"
    if partition_col:
        df = spark.read.option("basePath", path).parquet(*small)
        # each partition value's small rows hash to ONE task; partitionBy
        # then emits one merged file per value per task — task count only
        # sets parallelism.  (A value whose small files exceed the target
        # still merges to one file: it arrived as small appends, and the
        # NEXT cycle's threshold keeps it out of future merges.)
        writer = df.repartition(max(1, len(groups)), partition_col).write.partitionBy(
            partition_col
        )
    else:
        df = spark.read.parquet(*small)
        # no shuffle: coalesce the small-file read down to ~target sizes
        writer = df.coalesce(
            max(1, math.ceil(small_bytes / _TARGET_FILE_BYTES))
        ).write
    writer.parquet(tmp)
    tmp_base = tmp.rsplit("/", 1)[1]
    live = path.rstrip("/")
    moves = []
    for nf in fsutil.list_files(spark, tmp):
        rel = nf.split(tmp_base + "/", 1)[1]
        rel_dir, base = rel.rsplit("/", 1) if "/" in rel else ("", rel)
        dst_dir = f"{live}/{rel_dir}".rstrip("/")
        moves.append((nf, f"{dst_dir}/cmp-{uuid.uuid4().hex[:8]}-{base}"))
    journal = f"{live}.__smallcompact_journal_{swap_tag()}.json"
    plan = {"tmp": tmp, "moves": moves, "remove": small}
    if manifest_path:
        plan["manifest"] = manifest_path
        plan["col"] = manifest_col
    # journal-write -> replay -> journal-delete runs under the maintenance
    # flock THE CALLER HOLDS (compact_small_files acquired it for the
    # whole op; no-op on object stores — single-maintenance-process
    # contract there): a concurrent lsh_index_load/ivfpq_load ->
    # recover_small_compactions cannot glob this live journal and drive
    # the rename-based manifest entry swap alongside us (r13 ADVICE).
    fsutil.write_text(spark, journal, json.dumps(plan))
    _replay_small_compaction(spark, json.loads(fsutil.read_text(spark, journal)))
    fsutil.delete(spark, journal, recursive=False)
    stats["files_after"] = stats["files_before"] - stats["files_small"] + len(moves)
    return stats


def _replay_small_compaction(spark, j: dict) -> int:
    """Execute (or resume) a journaled small-file swap: move the merged
    files in, drop the originals, drop the tmp dir.  Idempotent at
    per-file granularity.  Returns the number of originals removed.

    Op dispatch follows fsutil's local/remote split: local layouts use
    one syscall per op (a fragmented appendix means hundreds of ops —
    Py4J round-trips made the swap ~half the incremental bench line's
    timed cost); remote schemes reuse ONE resolved FileSystem handle
    instead of the per-op resolve+exists+op triple."""
    paths = [p for pair in j.get("moves", []) for p in pair] + list(
        j.get("remove", [])
    ) + ([j["tmp"]] if j.get("tmp") else [])
    if not paths:
        return 0
    local = fsutil._local_path(paths[0]) is not None
    # Phase order matters for manifest-tracked layouts: (1) move the
    # merged cmp-* files in, (2) swap the manifest entries, (3) ONLY THEN
    # remove the originals.  The transient state between (2) and (3) is
    # harmless duplicates the manifest never exposes; updating the
    # manifest after the removals would leave pruned scans resolving
    # manifest entries to already-deleted files (r12 ADVICE).
    if local:
        # local fast path: one syscall per op instead of a Py4J round-trip
        # — the 640-file appendix swap of the sf0.1 bench line spent ~2 s
        # in delete round-trips alone.  Maintains the sibling .crc files
        # Hadoop's checksummed LocalFileSystem writes (move the crc with
        # its file so verification stays armed; drop it with a removal).
        _replay_moves_local(j)
    else:
        _replay_moves_jvm(spark, j, paths[0])
    if j.get("manifest"):
        # replace exactly the merged files' manifest entries — scans only
        # the new cmp-* files; idempotent under replay (stale entries for
        # the added files drop before the fresh ones append)
        from persistor_spark.plans import layout

        layout.update_minmax_manifest(
            spark,
            j["manifest"],
            j.get("remove", []),
            [dst for _, dst in j.get("moves", [])],
            j.get("col", "unique_id"),
        )
    if local:
        removed = _replay_removes_local(j)
    else:
        removed = _replay_removes_jvm(spark, j, paths[0])
    return removed


def _crc_sibling(path: str) -> str:
    d, b = os.path.split(path)
    return os.path.join(d, f".{b}.crc")


def _replay_moves_local(j: dict) -> None:
    """Local-filesystem twin of the journaled move phase — same
    idempotence and lost-race semantics as the Hadoop-API path."""
    for src, dst in j.get("moves", []):
        src_l, dst_l = fsutil._local_path(src), fsutil._local_path(dst)
        if os.path.exists(src_l):
            if os.path.exists(dst_l):
                # racing replayer may consume src between the exists
                # check and here — losing that race is completion too
                _try_remove(src_l)
                _try_remove(_crc_sibling(src_l))
            else:
                try:
                    os.replace(src_l, dst_l)
                except FileNotFoundError:
                    # lost a replay race: completion, not failure
                    if not os.path.exists(dst_l):
                        raise
                    continue
                src_crc = _crc_sibling(src_l)
                if os.path.exists(src_crc):
                    os.replace(src_crc, _crc_sibling(dst_l))


def _replay_removes_local(j: dict) -> int:
    import shutil

    removed = 0
    for f in j.get("remove", []):
        if _try_remove(fsutil._local_path(f)):
            removed += 1
            _try_remove(_crc_sibling(fsutil._local_path(f)))
    if j.get("tmp"):
        shutil.rmtree(fsutil._local_path(j["tmp"]), ignore_errors=True)
    return removed


def _try_remove(path: str) -> bool:
    try:
        os.remove(path)
        return True
    except FileNotFoundError:
        return False


def _replay_moves_jvm(spark, j: dict, any_path: str) -> None:
    fs = fsutil.fs_for(spark, any_path)
    jp = lambda p: fsutil.jpath(spark, p)  # noqa: E731
    for src, dst in j.get("moves", []):
        s = jp(src)
        if fs.exists(s):
            if fs.exists(jp(dst)):
                # object-store rename = copy+delete; a crash can leave both
                fs.delete(s, False)
            elif not fs.rename(s, jp(dst)):
                # two unlocked heal-on-read recoverers can replay the same
                # journal: a lost rename race (src consumed, dst landed)
                # is completion, not failure
                if not (fs.exists(jp(dst)) and not fs.exists(s)):
                    raise OSError(f"rename failed: {src} -> {dst}")


def _replay_removes_jvm(spark, j: dict, any_path: str) -> int:
    fs = fsutil.fs_for(spark, any_path)
    jp = lambda p: fsutil.jpath(spark, p)  # noqa: E731
    removed = 0
    for f in j.get("remove", []):
        p = jp(f)
        if fs.exists(p) and fs.delete(p, False):
            removed += 1
    if j.get("tmp"):
        t = jp(j["tmp"])
        if fs.exists(t):
            fs.delete(t, True)
    return removed


def _recovery_guard(table_path: str):
    """Serialize concurrent RECOVERERS of one table (local FS): the swap
    ops themselves are per-file idempotent, but the manifest entry swap
    inside a journaled replay is a rename-based single-writer sequence —
    two heal-on-read recoverers that both read the same live journal
    must not drive it concurrently (r13 review).  Local layouts take the
    cross-process advisory flock the broker stand-ins use; remote
    schemes keep the documented single-maintenance-process contract (the
    lock file would have to live on the object store, where flock does
    not exist)."""
    from contextlib import nullcontext

    local = fsutil._local_path(table_path.rstrip("/"))
    if local is None:
        return nullcontext()
    from persistor_spark.sources._statelock import state_lock

    return state_lock(f"{local}.__maintenance")


def recover_small_compactions(spark, path: str, _locked: bool = False) -> dict:
    """Finish any `compact_small_files` swap that crashed mid-flight by
    replaying its journal(s) — until then readers of the layout may see
    the merged rows TWICE (new cmp-* files moved in, originals not yet
    removed).  Idempotent; the heal-on-read loaders (lsh_index_load,
    ivfpq_load) and `compact_small_files` itself call it first.
    `_locked=True` = the caller already holds this table's maintenance
    flock (non-reentrant), so skip re-acquiring it.
    Returns {"journals", "files_removed"}."""
    import json
    from contextlib import nullcontext

    stats = {"journals": 0, "files_removed": 0}
    live = fsutil.escape(path.rstrip("/"))
    with nullcontext() if _locked else _recovery_guard(path):
        for journal in sorted(
            fsutil.glob(spark, f"{live}.__smallcompact_journal_*.json")
        ):
            txt = fsutil.try_read_text(spark, journal)
            if txt is None:
                # a racing recoverer replayed and deleted this journal
                # between our glob and read — completion, not failure
                # (r12 ADVICE; still reachable on remote schemes where
                # _recovery_guard cannot lock)
                continue
            j = json.loads(txt)
            stats["journals"] += 1
            stats["files_removed"] += _replay_small_compaction(spark, j)
            fsutil.delete(spark, journal, recursive=False)
    return stats


def _drop_smallcompact_orphans(spark, path: str) -> int:
    """Remove tmp dirs left by a `compact_small_files` crash BEFORE its
    journal write (no plan exists, the live tree is untouched — the tmp
    copy is pure garbage), plus `.json.tmp` carcasses of a crashed
    journal write (write_text's rename never happened, so no plan was
    ever visible).  Run only after `recover_small_compactions`, which
    consumes every journaled tmp first."""
    removed = 0
    for p in fsutil.glob(spark, f"{fsutil.escape(path.rstrip('/'))}.__smallcompact_*"):
        if "__smallcompact_journal_" in p and not p.endswith(".json.tmp"):
            continue
        fsutil.delete(spark, p, recursive=True)
        removed += 1
    return removed


def delete_by_key(spark, table_path: str, manifest_path: str, keys) -> dict:
    """Targeted delete (the GDPR / right-to-be-forgotten shape): remove
    every row whose `unique_id` is in `keys`, REWRITING ONLY the data files
    whose manifest [min_v, max_v] range can contain one of the keys.
    Untouched files are neither read nor written — at 100 TB a delete of a
    handful of ids touches a handful of files out of ~10^6, which is the
    entire point of keeping the Iceberg-lite manifest.

    Returns {"files_total", "files_rewritten", "rows_deleted"}.  The
    manifest is rebuilt afterwards (full rebuild here; an incremental
    manifest would replace just the affected entries).  Same swap caveats
    as compact_parquet: new files land before old ones are removed, so a
    concurrent reader sees duplicates-or-old rather than missing data,
    and parquet immutability keeps already-open scans consistent.

    Crash safety: BEFORE any file moves, a journal
    (`<table>.__delete_journal_*.json`) records the WHOLE remaining plan —
    the pending (tmp file -> final del-* name) moves, the originals to
    remove, and the tmp dir — and is deleted only after all of it is done
    and the manifest rebuilt.  A crash at ANY point after the journal
    exists is therefore resumable by replaying the plan (moves are
    per-file renames with pre-assigned destination names, so replay is
    idempotent: src gone + dst present = that move already happened).
    Run `recover_pending_deletes` on startup to finish a crashed swap
    instead of serving duplicated rows against a stale manifest.  A crash
    BEFORE the journal write leaves only an orphaned tmp dir — no moves
    have happened, the table is untouched.

    File ops route through the Hadoop FileSystem API (fsutil), so this
    works unchanged on gs://abfss://s3a://hdfs:// table paths; the
    manifest's file entries are full URIs and are used as such."""
    # WHOLE-OP serialization (r14, the d51 pin — same contract as
    # compact_small_files): hold the table's maintenance flock from
    # recovery through the final journal delete so a concurrent
    # compaction cannot remove our planned originals mid-rewrite.
    # LOCAL FS ONLY: on object-store paths the guard is a no-op and the
    # single-maintenance-process contract serializes (see
    # compact_small_files' note / _recovery_guard's docstring).
    with _recovery_guard(table_path):
        return _delete_by_key_locked(spark, table_path, manifest_path, keys)


def _delete_by_key_locked(spark, table_path, manifest_path, keys) -> dict:
    col = "unique_id"
    import json

    from pyspark.sql import functions as F

    from persistor_spark.plans import layout

    # replay any CRASHED earlier maintenance first: planning a new delete
    # over a table with a pending journal would let the later replay move
    # the old tmp files in and RESURRECT rows this delete removes; a
    # crashed compaction's journal must be consumed before the manifest
    # read for the same reason
    recover_pending_deletes(spark, table_path, _locked=True)
    recover_small_compactions(spark, table_path, _locked=True)
    keys = sorted(set(keys))
    rows = layout.load_manifest(spark, manifest_path)
    affected = [
        (f, n) for f, lo, hi, n in rows if any(lo <= k <= hi for k in keys)
    ]
    stats = {
        "files_total": len(rows),
        "files_rewritten": len(affected),
        "rows_deleted": 0,
    }
    if not affected:
        return stats
    paths = [f for f, _ in affected]
    kept = spark.read.parquet(*paths).filter(~F.col(col).isin(keys))
    tmp = f"{table_path.rstrip('/')}.__delete_{uuid.uuid4().hex[:8]}"
    # preserve the per-file sort the layout relies on for row-group pruning
    # the kept-row count rides the write job as an observation — re-reading
    # tmp just to count would be one more full job over the rewritten data
    from pyspark.sql import Observation

    obs = Observation()
    kept.repartitionByRange(len(paths), col).sortWithinPartitions(col).observe(
        obs, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(tmp)
    stats["rows_deleted"] = sum(n for _, n in affected) - obs.get["n"]
    # journal the WHOLE remaining plan BEFORE any file moves: destination
    # names are assigned NOW so a crash anywhere past this point is
    # resumable by idempotent replay (recover_pending_deletes).  Journaling
    # only the removals would make recovery destructive for a crash in the
    # journal-written/moves-not-done window (it would delete the originals
    # while their replacements still sit in tmp).
    moves = [
        (nf, f"{table_path.rstrip('/')}/del-{uuid.uuid4().hex[:8]}-{nf.rsplit('/', 1)[1]}")
        for nf in fsutil.glob(spark, f"{fsutil.escape(tmp)}/part-*.parquet")
    ]
    journal = _journal_path(table_path)
    # journal-write -> replay -> journal-delete runs under the maintenance
    # flock THE CALLER HOLDS (delete_by_key acquired it for the whole op;
    # no-op on object stores — single-maintenance-process contract there):
    # a concurrent recover_pending_deletes (heal-on-read) cannot drive the
    # rename-based manifest swap alongside us (r13 ADVICE)
    fsutil.write_text(
        spark,
        journal,
        json.dumps(
            {
                "tmp": tmp,
                "moves": moves,
                "remove": paths,
                "manifest": manifest_path,
                "col": col,
            }
        ),
    )
    _replay_delete_plan(
        spark, json.loads(fsutil.read_text(spark, journal)), table_path
    )
    fsutil.delete(spark, journal, recursive=False)
    return stats


def _replay_delete_plan(spark, j: dict, table_path: str) -> int:
    """Execute (or resume) a journaled delete swap: move the rewritten
    files in, drop the originals, drop the tmp dir, rebuild the manifest.
    Idempotent at per-file granularity — safe to replay after a crash at
    any step.  Returns the number of original files removed this call."""
    from persistor_spark.plans import layout

    for src, dst in j.get("moves", []):
        if fsutil.exists(spark, src):
            if fsutil.exists(spark, dst):
                # object-store rename = copy+delete; a crash can leave both
                fsutil.delete(spark, src, recursive=False)
            else:
                fsutil.rename(spark, src, dst)
    if j.get("moves"):
        # incremental: re-derive entries for ONLY the rewritten files
        # (idempotent under replay); the full rebuild would rescan the
        # whole table per delete — at 10^6 files that IS the delete cost.
        # Manifest swap happens BEFORE the originals are removed so the
        # transient state is harmless duplicates the manifest never
        # exposes, never manifest entries pointing at deleted files
        # (same phase order as _replay_small_compaction, r12 ADVICE).
        layout.update_minmax_manifest(
            spark,
            j["manifest"],
            j["remove"],
            [dst for _, dst in j["moves"]],
            j["col"],
        )
    removed = 0
    for f in j["remove"]:
        if fsutil.delete(spark, f, recursive=False):
            removed += 1
    if j.get("tmp"):
        fsutil.delete(spark, j["tmp"], recursive=True)
    if not j.get("moves"):  # legacy journal without a move plan: full rebuild
        layout.write_minmax_manifest(spark, table_path, j["manifest"], j["col"])
    return removed


def _journal_path(table_path: str) -> str:
    return f"{table_path.rstrip('/')}.__delete_journal_{uuid.uuid4().hex[:8]}.json"


def recover_pending_deletes(
    spark, table_path: str, _locked: bool = False
) -> dict:
    """Finish any delete_by_key swap that crashed mid-flight: for each
    journal next to `table_path`, REPLAY its plan — complete the pending
    tmp -> del-* moves first (a crash may have happened before any or all
    of them), then remove the listed originals that still exist, drop the
    tmp dir, rebuild the manifest, and drop the journal.  Idempotent; call
    on startup before serving queries (cli.cmd_query / cmd_serve do).
    `_locked=True` = the caller already holds this table's maintenance
    flock (non-reentrant), so skip re-acquiring it.
    Returns {"journals", "files_removed"}."""
    import json
    from contextlib import nullcontext

    stats = {"journals": 0, "files_removed": 0}
    pattern = f"{fsutil.escape(table_path.rstrip('/'))}.__delete_journal_*.json"
    with nullcontext() if _locked else _recovery_guard(table_path):
        for journal in sorted(fsutil.glob(spark, pattern)):
            txt = fsutil.try_read_text(spark, journal)
            if txt is None:
                # racing recoverer consumed this journal first — done
                continue
            j = json.loads(txt)
            stats["journals"] += 1
            stats["files_removed"] += _replay_delete_plan(spark, j, table_path)
            fsutil.delete(spark, journal, recursive=False)
    return stats
