"""plans.fsutil: the Hadoop-FileSystem-routed file ops that make
maintenance (compact/delete/recover) URI-agnostic.  Local paths exercise
the same code path as gs://abfss://s3a:// (scheme resolution via
Path.getFileSystem) — only the connector differs at deploy — except the
small-text read/write, which takes Python's file API on a local path."""

import pytest

from persistor_spark.plans import fsutil


def test_write_read_text_roundtrip_and_overwrite(spark, tmp_path):
    p = str(tmp_path / "j.json")
    fsutil.write_text(spark, p, '{"a": 1}')
    assert fsutil.read_text(spark, p) == '{"a": 1}'
    # last-writer-wins: create(overwrite)+rename replaces the old content
    fsutil.write_text(spark, p, '{"a": 2}')
    assert fsutil.read_text(spark, p) == '{"a": 2}'
    # no .tmp residue from the atomic-write dance
    assert fsutil.glob(spark, f"{p}.tmp") == []
    # a checksum a Hadoop write left is dropped with the local rewrite, so
    # a Hadoop read of the new content verifies nothing stale
    crc = tmp_path / ".j.json.crc"
    crc.write_bytes(b"stale")
    fsutil.write_text(spark, p, '{"a": 3}')
    assert not crc.exists()


def test_exists_delete_glob(spark, tmp_path):
    a = str(tmp_path / "x_1.json")
    b = str(tmp_path / "x_2.json")
    fsutil.write_text(spark, a, "a")
    fsutil.write_text(spark, b, "b")
    assert fsutil.exists(spark, a)
    got = sorted(fsutil.glob(spark, str(tmp_path / "x_*.json")))
    assert len(got) == 2 and got[0].endswith("x_1.json")
    assert fsutil.delete(spark, a, recursive=False)
    assert not fsutil.exists(spark, a)
    # deleting an absent path reports False, not an error (recover relies
    # on this for idempotence)
    assert not fsutil.delete(spark, a, recursive=False)


def test_rename_moves_and_raises_on_missing_src(spark, tmp_path):
    src = str(tmp_path / "src.txt")
    dst = str(tmp_path / "dst.txt")
    fsutil.write_text(spark, src, "payload")
    fsutil.rename(spark, src, dst)
    assert not fsutil.exists(spark, src)
    assert fsutil.read_text(spark, dst) == "payload"
    with pytest.raises(OSError):
        fsutil.rename(spark, str(tmp_path / "nope.txt"), dst)
    # overwrite=True clobbers an existing destination file
    fsutil.write_text(spark, src, "new")
    fsutil.rename(spark, src, dst, overwrite=True)
    assert fsutil.read_text(spark, dst) == "new"


def test_list_files_and_total_size_recursive(spark, tmp_path):
    p = str(tmp_path / "ds")
    spark.range(100).write.parquet(p)
    files = fsutil.list_files(spark, p)
    assert files and all(f.endswith(".parquet") for f in files)
    assert fsutil.total_size(spark, p) > 0
    # absent path: empty listing, zero size (compact's first-cycle shape)
    assert fsutil.list_files(spark, str(tmp_path / "absent")) == []
    assert fsutil.total_size(spark, str(tmp_path / "absent")) == 0


def test_escape_protects_glob_metacharacters(spark, tmp_path):
    """A table path containing glob metacharacters must not be treated as
    a pattern by sweep_trash / recover_pending_deletes (the old Python-glob
    code used glob.escape; the Hadoop path needs the same)."""
    weird = str(tmp_path / "runs[2025]")
    fsutil.write_text(spark, f"{weird}.__trash_abc/x.txt", "t")
    # unescaped, [2025] is a character class and matches nothing
    assert fsutil.glob(spark, f"{weird}.__trash_*") == []
    got = fsutil.glob(spark, f"{fsutil.escape(weird)}.__trash_*")
    assert len(got) == 1 and got[0].endswith(".__trash_abc")
