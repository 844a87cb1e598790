"""Spark <-> Avro OCF blob store: the LIVE avro path for the reference's
blob contract (one OCF file per blob, `persistorrecord` schema).

Reference parity:
- write: persistor encodes each mini-batch into ONE OCF blob per mask
  partition (write_to_avro.go:34-74; storage.go:103-247 names the path).
  Here `write_blobs_ocf` groups blob records by `location_key` and an
  `applyInPandas` task encodes + writes each blob — one Python call per
  blob, Arrow-batched in, parallelism = number of blobs (the reference
  gives each blob a goroutine; Spark gives it a task slot).
- read: the resubmitter fetches whole blobs and OCF-decodes them
  (avro.go:69-89).  `read_blob_records_ocf` scans the directory with the
  `binaryFile` source (distributed, one row per blob) and `mapInPandas`
  decodes — never collects blob bytes to the driver.

Scale: blob bytes move executor-side only; decode parallelism is per-file;
the downstream position-align join sees exactly the same (location_key,
position, record_id, payload, metadata) columns as the parquet layout, so
every resubmit plan property (pruned scan, broadcast metadata side) is
format-independent.  Object-store deployments swap `open()` for an
fsspec/cloud-SDK handle inside the same tasks; the local filesystem is the
container-testable stand-in.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from persistor_spark.formats import avro_ocf

MANIFEST_SCHEMA = StructType(
    [
        StructField("location_key", StringType()),
        StructField("path", StringType()),
        StructField("n_records", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

RECORD_SCHEMA = StructType(
    [
        StructField("location_key", StringType()),
        StructField("position", IntegerType()),
        StructField("record_id", StringType()),
        StructField("payload", StringType()),
        StructField("metadata", MapType(StringType(), StringType())),
    ]
)


def object_path(location_key: str) -> str:
    """`<scheme>://<bucket>/<object path>` -> `<object path>` (the fetchers'
    URL parse, gs.go:54-89 / abs.go:76-114).  [a-z0-9] like blob_client_for:
    a plain [a-z]+ silently failed to strip digit-bearing schemes (s3)."""
    return re.sub(r"^[a-z0-9]+://[^/]+/", "", location_key)


def base_url(location_key: str) -> str:
    m = re.match(r"^([a-z0-9]+://[^/]+)/", location_key)
    if not m:
        raise ValueError(f"location_key without scheme://bucket: {location_key!r}")
    return m.group(1)


class PosixBlobClient:
    """Default blob-write client: shared-POSIX paths (local FS, NFS, fuse).
    Cloud deployments register a scheme client instead — the reference PUTs
    straight to GCS/ABS (gcs_avro_writer.go:42-71, abs_avro_writer.go:46-66),
    and this seam is where that call goes."""

    def join(self, base: str, rel: str) -> str:
        return os.path.join(base, rel)

    def write(self, full_path: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "wb") as fh:  # task retry rewrites identical bytes
            fh.write(data)


class PrefixRewriteBlobClient:
    """Maps `<scheme>://bucket/...` writes onto a local directory root — a
    container-testable stand-in for a real cloud SDK client (and the shape a
    gcsfs/adlfs-backed client takes: join URLs, write bytes).  Must live in
    the library (not a test module) so executor tasks can unpickle it by
    reference."""

    def __init__(self, root: str):
        self.root = root

    def join(self, base: str, rel: str) -> str:
        return base.rstrip("/") + "/" + rel

    def write(self, full_path: str, data: bytes) -> None:
        local = os.path.join(self.root, re.sub(r"^[a-z0-9]+://", "", full_path))
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(local, "wb") as fh:
            fh.write(data)


# scheme -> client; clients must be picklable (they execute inside tasks).
_BLOB_CLIENTS: dict = {}


def register_blob_client(scheme: str, client) -> None:
    """Install a write client for `<scheme>://` base dirs (e.g. an
    fsspec/gcsfs-backed client for `gs`, adlfs for `abfss`).  The client
    needs `join(base, rel) -> str` and `write(path, bytes)`, and must be
    picklable — it is shipped to executor tasks."""
    _BLOB_CLIENTS[scheme] = client


def blob_client_for(base_dir: str):
    m = re.match(r"^([a-z0-9]+)://", base_dir)
    scheme = m.group(1) if m else ""
    if scheme in ("", "file"):
        return _BLOB_CLIENTS.get(scheme, PosixBlobClient())
    client = _BLOB_CLIENTS.get(scheme)
    if client is None:
        raise ValueError(
            f"no blob client registered for scheme {scheme!r} "
            f"(register_blob_client({scheme!r}, ...) before writing to {base_dir!r})"
        )
    return client


def _as_dict(metadata) -> dict:
    """Arrow hands MapType to pandas as a dict OR a list of (k, v) tuples
    depending on the conversion path; normalize."""
    if metadata is None:
        return {}
    if isinstance(metadata, dict):
        return dict(metadata)
    return dict(metadata)


def write_blobs_ocf(
    result,
    base_dir: str,
    manifest_path: str | None = None,
) -> DataFrame:
    """Persist blob records as ONE deflate-coded Avro OCF file per
    location_key under `base_dir/<object path>`; returns the written-blob
    manifest (collected eagerly so the write is an action, like
    DataFrame.write).

    Record layout inside a blob matches the reference exactly:
    {ID: record_id, Data: utf-8 payload bytes, Metadata: attributes},
    ordered by `position` (the write order the index's location_position
    points into, sender.go:186-192).

    Byte writes go through the scheme-resolved blob client (see
    `register_blob_client`) — POSIX locally, GCS/ABS at deploy.

    `manifest_path`: if set, the manifest is persisted to durable parquet
    and the return value is a read of it — the cluster-grade mode (blocks
    survive executor loss; a recompute can never re-run the side-effecting
    encode).  If None, the manifest is pinned with an eager localCheckpoint:
    fine in local mode / short-lived jobs, but executor-storage-resident —
    if those blocks are evicted the DataFrame fails rather than recomputes.
    """
    records = result.blob_records if hasattr(result, "blob_records") else result
    client = blob_client_for(base_dir)  # resolve driver-side; pickled to tasks

    def encode_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values("position")
        lk = pdf["location_key"].iloc[0]
        recs = [
            {
                "ID": rid,
                "Data": (payload or "").encode("utf-8"),
                "Metadata": {k: str(v) for k, v in _as_dict(meta).items()},
            }
            for rid, payload, meta in zip(pdf["record_id"], pdf["payload"], pdf["metadata"])
        ]
        blob = avro_ocf.encode_ocf(recs, sync=avro_ocf.sync_marker_for(lk))
        full = client.join(base_dir, object_path(lk))
        client.write(full, blob)
        return pd.DataFrame(
            [{"location_key": lk, "path": full, "n_records": len(recs), "n_bytes": len(blob)}]
        )

    manifest = (
        records.select("location_key", "position", "record_id", "payload", "metadata")
        .groupBy("location_key")
        .applyInPandas(encode_group, schema=MANIFEST_SCHEMA)
    )
    if manifest_path is not None:
        manifest.write.mode("overwrite").parquet(manifest_path)
        return records.sparkSession.read.parquet(manifest_path)
    # localCheckpoint (eager): runs the side-effecting encode ONCE and pins
    # the manifest executor-side — downstream reuse cannot re-trigger the
    # file writes, and nothing corpus-sized transits the driver (the r2
    # collect+createDataFrame round-trip is gone).  See docstring for the
    # manifest_path mode a long-lived cluster job should use instead.
    return manifest.localCheckpoint(eager=True)


def read_blob_records_ocf(
    spark: SparkSession, base_dir: str, blob_base_url: str
) -> DataFrame:
    """Distributed OCF scan -> the standard blob-record columns.

    `blob_base_url` is the `<scheme>://<bucket>` prefix that, joined with
    each file's path relative to `base_dir`, reconstructs `location_key`
    (the index stores the URL; the filesystem stores the object path).
    Positions are 1-based record order within the blob — the order the
    writer serialized, which is what the reference's resubmitter consumes
    0-based (util.go:47).
    """
    base = os.path.abspath(base_dir)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", "true")
        .load(base)
    )

    def decode_files(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                local = re.sub(r"^file:/*", "/", path)
                rel = os.path.relpath(local, base)
                lk = f"{blob_base_url}/{rel}"
                _, recs = avro_ocf.decode_ocf(bytes(content))
                for i, rec in enumerate(recs, start=1):
                    # Data is ARBITRARY bytes in the persistorrecord
                    # contract; this engine's payload column is text, so
                    # non-UTF-8 payloads (gzip/protobuf bodies a Go
                    # persistor may have written) are carried as a marked
                    # base64 string instead of failing the whole scan
                    data = bytes(rec["Data"])
                    try:
                        payload = data.decode("utf-8")
                    except UnicodeDecodeError:
                        import base64

                        payload = "base64:" + base64.b64encode(data).decode("ascii")
                    rows.append(
                        {
                            "location_key": lk,
                            "position": i,
                            "record_id": rec["ID"],
                            "payload": payload,
                            "metadata": rec["Metadata"],
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in RECORD_SCHEMA.fields])

    return binary.select("path", "content").mapInPandas(decode_files, schema=RECORD_SCHEMA)
