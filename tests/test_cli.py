"""CLI surface smoke tests — the reference's service entry points collapse to
these subcommands (persistor/cmd/*, indexer-api handler, resubmitter handler).

Pins the OCF blob-format branch of `cmd_ingest` (blob_rows must be counted by
decoding the OCF files, not by a parquet read that would see zero rows).
"""

import json

import pytest

from persistor_spark import cli, fixtures


def _run_cli(capsys, argv):
    rc = cli.main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    return rc, json.loads(out[-1])


@pytest.fixture(scope="module")
def source_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_src") / "messages")
    fixtures.load_messages(spark, sf_dir).limit(500).write.parquet(d)
    return d


def test_cli_ingest_ocf_counts_blob_rows(spark, source_dir, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc, emitted = _run_cli(
        capsys, ["ingest", "--source", source_dir, "--out", out, "--blob-format", "ocf"]
    )
    assert rc == 0
    # every indexed message has exactly one blob record, decoded from OCF
    assert emitted["indexed"] > 0
    assert emitted["blob_rows"] == emitted["indexed"]


def test_cli_ingest_parquet_then_query_get(spark, source_dir, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc, emitted = _run_cli(
        capsys,
        ["ingest", "--source", source_dir, "--out", out, "--blob-format", "parquet"],
    )
    assert rc == 0 and emitted["blob_rows"] == emitted["indexed"]

    uid = (
        spark.read.parquet(f"{out}/index").select("unique_id").limit(1).collect()[0][0]
    )
    rc, rows = _run_cli(capsys, ["query", "--index", f"{out}/index", "get", uid])
    assert rc == 0
    assert len(rows) == 1 and rows[0]["unique_id"] == uid


def test_cli_analyze_list_and_run(capsys):
    import json as _json

    from persistor_spark import cli

    assert cli.main(["analyze", "list"]) == 0
    names = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "a62_dataset_card" in names
    assert cli.main(["analyze", "nope"]) == 2


def test_cli_resubmit_ocf_blobs(spark, source_dir, tmp_path, capsys):
    """ingest --blob-format ocf -> resubmit --blob-format ocf: blobs written
    in the reference's live OCF contract are resubmittable from the CLI
    (previously the resubmit read side hard-coded parquet with no flag)."""
    from persistor_spark import fixtures

    out = str(tmp_path / "out")
    rc, emitted = _run_cli(
        capsys, ["ingest", "--source", source_dir, "--out", out, "--blob-format", "ocf"]
    )
    assert rc == 0 and emitted["indexed"] > 0
    base_url = fixtures.fixture_ingest_config().storage.base_url
    rc, summary = _run_cli(
        capsys,
        [
            "resubmit", "--index", f"{out}/index", "--blobs", f"{out}/blobs",
            "--out", str(tmp_path / "resub"),
            "--blob-format", "ocf", "--blob-base-url", base_url,
        ],
    )
    assert rc == 0
    assert summary["published"] == summary["starting"] == emitted["indexed"]


def test_cli_batch_ingest_pins_one_instant(spark, source_dir, tmp_path, capsys, monkeypatch):
    """Without --stream the blob and index writes are two actions; both must
    read the ONE pinned instant, or a run crossing midnight would index
    location_keys that no blob row carries."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from persistor_spark.config import IngestConfig

    instant = datetime(2023, 12, 31, 23, 59, 59, 999000, tzinfo=timezone.utc)
    monkeypatch.setattr(cli, "_ingest_instant", lambda: instant)
    out = str(tmp_path / "out")
    rc, emitted = _run_cli(
        capsys,
        ["ingest", "--source", source_dir, "--out", out, "--blob-format", "parquet"],
    )
    assert rc == 0 and emitted["indexed"] > 0
    idx = spark.read.parquet(f"{out}/index")
    blobs = spark.read.parquet(f"{out}/blobs")
    assert idx.join(blobs, "location_key", "left_anti").count() == 0
    assert all("/2023/12/31/" in r[0] for r in idx.select("location_key").collect())
    skew = IngestConfig().indexer_clock_skew_s
    clocks = idx.select(
        (F.unix_millis("indexer_ingestion_time") - skew * 1000).alias("ms")
    ).distinct().collect()
    assert [r["ms"] for r in clocks] == [int(instant.timestamp() * 1000)]


def test_cli_serve_binds_the_env_address(spark, ingested, tmp_path, capsys, monkeypatch):
    """With no --port, IDX_API_SERVER_ADDRESS decides where the Indexer API
    listens (loadServerOptionsFromEnv, server.go:82-108)."""
    import socket
    import types

    from persistor_spark.plans import ingest

    idx = str(tmp_path / "index")
    ingest.write_index(ingested, idx)
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    monkeypatch.setenv("IDX_API_SERVER_ADDRESS", f"127.0.0.1:{port}")

    class _Interrupted:  # Ctrl-C as soon as the servers are up
        def wait(self):
            raise KeyboardInterrupt

    monkeypatch.setattr(cli, "threading", types.SimpleNamespace(Event=_Interrupted))
    rc, emitted = _run_cli(capsys, ["serve", "--index", idx])
    assert rc == 0
    assert emitted == {"serving": {"indexer": port}}
