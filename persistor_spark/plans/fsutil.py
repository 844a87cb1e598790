"""URI-agnostic file operations via the Hadoop FileSystem API.

Spark's own read/write paths already work against any store the cluster
can reach (file:/, hdfs://, gs://, abfss://, s3a:// — `spark.read.parquet`
resolves the scheme through Hadoop).  What was NOT agnostic were the
maintenance-time steps around those reads/writes — the compaction swap,
the delete-journal, trash sweeping, file listing — which used
`os.rename`/`os.remove`/`glob` and silently assumed a local filesystem
(flagged in the r6 ADVICE on `plans.maintenance`).  This module routes
those steps through `org.apache.hadoop.fs.FileSystem` obtained from the
session JVM, so `compact_parquet` / `delete_by_key` /
`recover_pending_deletes` operate on exactly the set of stores Spark
itself can write.

Object-store semantics (public Hadoop connector docs; relevant because
the reference targets GCS/Azure blob storage — storage.go):

- `rename()` is a metadata op on HDFS and local FS, but COPY+DELETE
  (O(data), non-atomic for directories) on gs://abfss://s3a://.  The swap
  caveats in `plans.maintenance`'s module docstring apply doubly there;
  at serious scale prefer compacting into a versioned prefix and flipping
  a pointer (the Iceberg/Delta pattern this layout approximates).
- `create(overwrite=True)` + single-file `rename` gives last-writer-wins
  visibility for the delete journal — sufficient, since the journal is
  written before any destructive step and removed only after recovery
  completes.
- The local scheme goes through Hadoop's checksummed LocalFileSystem, so
  sibling `.crc` files are created/renamed/removed consistently with
  their data files.  The one exception is the small text files
  (write_text/read_text): on a local path they use Python's file API,
  see write_text.
"""

from __future__ import annotations

import contextlib
import os

# Every table these helpers list is parquet.
_DATA_SUFFIX = ".parquet"


def _local_path(path: str) -> str | None:
    """The local-filesystem path when `path` is scheme-less or file:,
    else None.  Per-FILE operations (recursive listing, sizing) dispatch
    on this: one Py4J round-trip per file costs ~3 ms, so listing a
    fragmented 650-file layout through the JVM iterator takes seconds
    while os.scandir takes under a millisecond (measured; the
    index_compaction bench line doubled when listing went JVM-side).
    Remote schemes keep the Hadoop iterator — there the cost is the
    store's LIST pages, not Py4J.  Single-call ops (exists/delete/
    rename/open) stay JVM-side unconditionally: Hadoop's checksummed
    LocalFileSystem maintains the sibling .crc files consistently."""
    # file: first — the single-slash form 'file:/x' is a valid Hadoop URI
    # that the '://' test would misclassify as a relative OS path (making
    # listings silently empty and sizes 0)
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path or path.split(":", 1)[1]
    if "://" not in path:
        return path
    return None


def _conf(spark):
    return spark._jsc.hadoopConfiguration()


def jpath(spark, path: str):
    """A jvm org.apache.hadoop.fs.Path for a path string of any scheme."""
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def fs_for(spark, path: str):
    """The FileSystem instance owning `path`'s scheme+authority."""
    return jpath(spark, path).getFileSystem(_conf(spark))


def exists(spark, path: str) -> bool:
    return fs_for(spark, path).exists(jpath(spark, path))


def delete(spark, path: str, recursive: bool = True) -> bool:
    """Delete a file or directory tree.  Returns False if absent."""
    fs = fs_for(spark, path)
    p = jpath(spark, path)
    if not fs.exists(p):
        return False
    return fs.delete(p, recursive)


def rename(spark, src: str, dst: str, overwrite: bool = False) -> None:
    """Rename/move `src` to `dst`, raising on failure (Hadoop's rename
    returns False instead of raising for most failure modes — surface
    those).  With `overwrite`, an existing destination FILE is removed
    first (Hadoop rename never clobbers)."""
    fs = fs_for(spark, src)
    s, d = jpath(spark, src), jpath(spark, dst)
    if overwrite and fs.exists(d):
        fs.delete(d, False)
    if not fs.rename(s, d):
        raise OSError(f"rename failed: {src} -> {dst}")


def escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a literal path so it
    can be embedded in a globStatus pattern (the analogue of Python's
    glob.escape — a table path containing [],{},*,? must not be treated as
    a pattern by sweep_trash / recover_pending_deletes)."""
    out = []
    for ch in path:
        if ch in "*?[]{}\\^":
            out.append("\\")
        out.append(ch)
    return "".join(out)


def glob(spark, pattern: str) -> list[str]:
    """Paths (full URI strings) matching a Hadoop glob pattern."""
    fs = fs_for(spark, pattern)
    statuses = fs.globStatus(jpath(spark, pattern))
    if statuses is None:
        return []
    return [s.getPath().toString() for s in statuses]


def list_files_with_size(spark, path: str) -> list[tuple[str, int]]:
    """Recursively list (file, length) pairs of the `.parquet` data files
    under `path` — the per-file sizing `compact_small_files` plans from.
    Local paths walk the OS directly (per-file Py4J round-trips would
    dominate on fragmented layouts — see _local_path); remote schemes use
    the FileSystem's recursive iterator."""
    local = _local_path(path)
    if local is not None:
        if not os.path.exists(local):
            return []
        return [
            (os.path.join(dp, f), os.path.getsize(os.path.join(dp, f)))
            for dp, _, files in os.walk(local)
            for f in files
            if f.endswith(_DATA_SUFFIX)
        ]
    fs = fs_for(spark, path)
    p = jpath(spark, path)
    if not fs.exists(p):
        return []
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if name.endswith(_DATA_SUFFIX):
            out.append((name, st.getLen()))
    return out


def list_files(spark, path: str) -> list[str]:
    """The `.parquet` data files under `path`, recursively."""
    return [f for f, _ in list_files_with_size(spark, path)]


def total_size(spark, path: str) -> int:
    """Sum of the `.parquet` data file lengths under `path` (bytes)."""
    return sum(n for _, n in list_files_with_size(spark, path))


def write_text(spark, path: str, text: str) -> None:
    """Write a small text file with last-writer-wins visibility: create a
    sibling `.tmp` (overwrite), flush/close, then rename over `path`.

    A local path uses Python's file API (os.replace is an atomic
    rename-over) and removes any sibling `.crc` a Hadoop write left, so a
    later Hadoop read verifies nothing stale.  The Hadoop route costs
    about 20 Py4J round trips, tens of ms while executors saturate the
    host, and the streaming blob sink writes its attempt watermark this
    way on every micro-batch."""
    local = _local_path(path)
    if local is not None:
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        with open(local + ".tmp", "w", encoding="utf-8") as fh:
            fh.write(text)
        os.replace(local + ".tmp", local)
        head, name = os.path.split(local)
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(head, f".{name}.crc"))
        return
    fs = fs_for(spark, path)
    tmp = path + ".tmp"
    out = fs.create(jpath(spark, tmp), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
        out.hflush()
    finally:
        out.close()
    rename(spark, tmp, path, overwrite=True)


def is_missing_file_error(exc: Exception) -> bool:
    """Classify 'the file/path is gone' across every surface the engine
    reads through: Python OSError, Py4JJavaError wrapping
    java.io.FileNotFoundException, and Spark's AnalysisException
    PATH_NOT_FOUND.  The ONE classifier for try_read_text and
    layout.manifest_lookup_resilient — duplicated match sets drift
    (r13 review)."""
    s = str(exc)
    return (
        isinstance(exc, FileNotFoundError)
        or "FileNotFoundException" in s
        or "PATH_NOT_FOUND" in s
        # Spark's path-not-found message shape, ANCHORED — the bare
        # substring 'does not exist' also appears in missing-table/-view
        # and config errors, which must NOT be swallowed as "journal
        # already consumed" (r13 ADVICE): try_read_text would silently
        # skip a live journal and manifest_lookup_resilient would mask a
        # real error behind a pointless heal-and-retry.
        or "Path does not exist" in s
    )


def try_read_text(spark, path: str) -> str | None:
    """`read_text`, returning None when the file is ALREADY GONE.

    Exists for the recovery paths: between globbing a journal and reading
    it, a racing recoverer may replay and delete that same journal — the
    per-file idempotence of the swap ops covers the moves/removes, this
    covers the journal read itself (a vanished journal means "another
    recoverer finished", not an error)."""
    try:
        return read_text(spark, path)
    except Exception as e:  # Py4JJavaError wrapping java.io.FileNotFoundException
        if is_missing_file_error(e):
            return None
        raise


def read_text(spark, path: str) -> str:
    """Read a small text file fully into a string (a local path through
    Python's file API, like write_text)."""
    local = _local_path(path)
    if local is not None:
        with open(local, encoding="utf-8") as fh:
            return fh.read()
    jvm = spark._jvm
    fs = fs_for(spark, path)
    stream = fs.open(jpath(spark, path))
    try:
        buf = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, buf, 8192)
        return bytes(buf.toByteArray()).decode("utf-8")
    finally:
        stream.close()
