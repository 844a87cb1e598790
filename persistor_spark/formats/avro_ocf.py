"""Pure-Python Avro Object Container File (OCF) codec.

The reference's entire blob contract is Avro OCF: the persistor encodes each
blob with `ocf.NewEncoder` over the `persistorrecord` schema
(persistor/internal/common/write_to_avro.go:34-74) and the resubmitter
decodes it back (resubmitter-api/lib/serializer/avro/avro.go:37-89).  The
container ships neither spark-avro nor an avro Python package, so this module
implements the public Avro 1.11 specification directly — binary encoding
(zigzag varints, length-prefixed strings/bytes, block-encoded maps/arrays)
plus the OCF framing (magic, metadata map, sync-marker-delimited data
blocks, null/deflate codecs).  ~200 lines, stdlib only.

This is the slow-path kernel: it runs inside Arrow-batched `applyInPandas` /
`mapInPandas` tasks (see formats.ocf_io), one call per BLOB, so the
per-record Python cost is amortized over a blob's whole batch and the
encode/decode parallelism is the number of blobs — the same unit of work the
reference gives one goroutine.
"""

from __future__ import annotations

import hashlib
import io
import json
import zlib

MAGIC = b"Obj\x01"

#: The reference's record schema, verbatim (write_to_avro.go:34-44).
PERSISTOR_RECORD_SCHEMA: dict = {
    "type": "record",
    "name": "persistorrecord",
    "namespace": "com.syntio.dataphos",
    "fields": [
        {"name": "ID", "type": "string"},
        {"name": "Data", "type": "bytes"},
        {"name": "Metadata", "type": {"type": "map", "values": "string"}},
    ],
}


# ---------------------------------------------------------------- primitives


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def encode_long(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    n = _zigzag(n)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return _unzigzag(acc)
            shift += 7

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_fixed(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    @property
    def eof(self) -> bool:
        return self.pos >= len(self.buf)


# ------------------------------------------------------- schema-driven codec


def _encode_value(schema, value, out: bytearray) -> None:
    """Generic binary encoder for the schema subset the blob contract (and
    reasonable extensions) needs: null/boolean/int/long/float/double/
    string/bytes/record/map/array/union."""
    if isinstance(schema, list):  # union: [index] value
        for i, branch in enumerate(schema):
            if _matches(branch, value):
                out += encode_long(i)
                _encode_value(branch, value, out)
                return
        raise ValueError(f"value {value!r} matches no union branch {schema}")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        out += encode_long(int(value))
    elif t == "float":
        import struct

        out += struct.pack("<f", float(value))
    elif t == "double":
        import struct

        out += struct.pack("<d", float(value))
    elif t == "string":
        b = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        out += encode_long(len(b))
        out += b
    elif t == "bytes":
        b = value if isinstance(value, (bytes, bytearray)) else str(value).encode("utf-8")
        out += encode_long(len(b))
        out += bytes(b)
    elif t == "record":
        for f in schema["fields"]:
            _encode_value(f["type"], value[f["name"]], out)
    elif t == "map":
        items = list(value.items()) if value else []
        if items:
            out += encode_long(len(items))
            for k, v in items:
                _encode_value("string", k, out)
                _encode_value(schema["values"], v, out)
        out += encode_long(0)
    elif t == "array":
        items = list(value) if value is not None else []
        if items:
            out += encode_long(len(items))
            for v in items:
                _encode_value(schema["items"], v, out)
        out += encode_long(0)
    else:
        raise ValueError(f"unsupported avro type: {t!r}")


def _matches(branch, value) -> bool:
    t = branch["type"] if isinstance(branch, dict) else branch
    if t == "null":
        return value is None
    return value is not None


def _decode_value(schema, r: _Reader):
    if isinstance(schema, list):
        return _decode_value(schema[r.read_long()], r)
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return None
    if t == "boolean":
        return r.read_fixed(1) == b"\x01"
    if t in ("int", "long"):
        return r.read_long()
    if t == "float":
        import struct

        return struct.unpack("<f", r.read_fixed(4))[0]
    if t == "double":
        import struct

        return struct.unpack("<d", r.read_fixed(8))[0]
    if t == "string":
        return r.read_bytes().decode("utf-8")
    if t == "bytes":
        return r.read_bytes()
    if t == "record":
        return {f["name"]: _decode_value(f["type"], r) for f in schema["fields"]}
    if t == "map":
        out = {}
        while True:
            n = r.read_long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix (spec permits)
                r.read_long()
                n = -n
            for _ in range(n):
                k = r.read_bytes().decode("utf-8")
                out[k] = _decode_value(schema["values"], r)
    if t == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                return out
            if n < 0:
                r.read_long()
                n = -n
            for _ in range(n):
                out.append(_decode_value(schema["items"], r))
    raise ValueError(f"unsupported avro type: {t!r}")


# --------------------------------------------------------------- containers


def sync_marker_for(key: str) -> bytes:
    """Deterministic 16-byte sync marker derived from the blob identity —
    a retried task re-encoding the same blob produces byte-identical output
    (idempotent overwrite), unlike a random marker."""
    return hashlib.md5(key.encode("utf-8")).digest()


def encode_ocf(
    records: list,
    codec: str = "deflate",
    sync: bytes | None = None,
    block_records: int = 1000,
) -> bytes:
    """Persistor records -> one OCF blob (header + data blocks) under
    PERSISTOR_RECORD_SCHEMA, per the Avro spec.

    `codec` is `null` or `deflate` (raw RFC-1951 via zlib, the spec's
    required/optional pair; hamba's encoder defaults to null — both decode
    interchangeably).  Blocks of `block_records` keep a huge blob streamable.
    """
    schema = PERSISTOR_RECORD_SCHEMA
    if sync is None:
        sync = sync_marker_for(json.dumps(schema, sort_keys=True))
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")

    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    header = bytearray()
    header += encode_long(len(meta))
    for k, v in meta.items():
        _encode_value("bytes", k.encode(), header)
        _encode_value("bytes", v, header)
    header += encode_long(0)
    out.write(bytes(header))
    out.write(sync)

    for start in range(0, len(records), block_records):
        chunk = records[start : start + block_records]
        body = bytearray()
        for rec in chunk:
            _encode_value(schema, rec, body)
        payload = bytes(body)
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        out.write(encode_long(len(chunk)))
        out.write(encode_long(len(payload)))
        out.write(payload)
        out.write(sync)
    return out.getvalue()


def decode_ocf(blob: bytes) -> tuple[dict, list]:
    """One OCF blob -> (schema, records).  Mirrors the resubmitter's decode
    loop (avro.go:69-89: HasNext/Decode until exhausted)."""
    r = _Reader(blob)
    if r.read_fixed(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            r.read_long()
            n = -n
        for _ in range(n):
            k = r.read_bytes().decode("utf-8")
            meta[k] = r.read_bytes()
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    sync = r.read_fixed(16)

    records = []
    while not r.eof:
        n_records = r.read_long()
        n_bytes = r.read_long()
        payload = r.read_fixed(n_bytes)
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        br = _Reader(payload)
        for _ in range(n_records):
            records.append(_decode_value(schema, br))
        if r.read_fixed(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block boundary)")
    return schema, records
