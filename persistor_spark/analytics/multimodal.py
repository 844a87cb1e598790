"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed via Arrow-batched `mapInPandas`.

Uncompressed container formats decode for REAL — pure numpy/struct, public
specs: BMP images (`decode_bmp`), RIFF PCM16 WAV audio (`decode_wav`),
minimal DIB-frame AVI video (`decode_avi`).  COMPRESSED formats
(jpeg/png/mp3/h264/...) stay STUBS (`_fake_decode_image`, clearly marked)
because the container ships no codec libraries — swapping in Pillow/ffmpeg
is a one-function change that doesn't touch the plan.  Everything
Spark-side is real and tested either way: the schema contract, the Arrow
batch shape, partitioning by media type, and the UDF signatures.

Scale notes: media payloads are large — the operators below never shuffle
raw bytes (feature extraction happens before any wide transform), and
`repartition_for_decode` sizes partitions by *byte volume*, not row count,
so a partition of 4K videos and a partition of thumbnails cost similar
decode time.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id string, width int, height int, n_bytes long, feature array<float>"
)
FRAME_SAMPLE_SCHEMA = "media_id string, frame_idx int, frame_ts_ms long, frame array<float>"

_FEATURE_DIM = 8


def _fake_decode_image(content: bytes) -> list[float]:
    """STUB decode for COMPRESSED formats (jpeg/png/...): deterministic
    byte-statistics 'feature' standing in for a codec+CNN — the container
    ships no codec libraries.  Uncompressed BMP decodes for REAL below."""
    if content is None:
        raise NotImplementedError("real image decode requires a codec library")
    if not content:  # zero-length blob: a zero row, not an IndexError that
        return [0.0] * _FEATURE_DIM  # kills the whole task for one bad blob
    n = len(content)
    return [
        float(n % 251),
        float(sum(content[:64]) % 997),
        float(content[0]),
        float(content[-1]),
        float(min(content)),
        float(max(content)),
        float(n),
        float(sum(content) % 7919),
    ]


# -- REAL codec: uncompressed 24-bit BMP (pure numpy, no external libs) ------


def encode_bmp(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> uncompressed 24-bit bottom-up BMP bytes (the
    public BITMAPINFOHEADER layout; rows padded to 4 bytes)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += a[y, :, ::-1].tobytes()  # BGR on disk
        body += b"\x00" * pad
    pixel_offset = 14 + 40
    size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header) + dib + bytes(body)


def decode_bmp(content: bytes):
    """Uncompressed 24-bit BMP -> (h, w, 3) uint8 RGB numpy array.  REAL
    decode — raises on anything it can't honestly parse."""
    import struct

    import numpy as np

    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_offset = struct.unpack_from("<I", content, 10)[0]
    w, h = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0 or planes != 1:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    row = w * 3
    stride = row + (4 - row % 4) % 4
    px = np.frombuffer(content, dtype=np.uint8, count=stride * h, offset=pixel_offset)
    px = px.reshape(h, stride)[:, :row].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if bottom_up:
        px = px[::-1]
    return np.ascontiguousarray(px)


def decode_image_features(content: bytes) -> list[float]:
    """Decode dispatch: REAL pixel statistics for BMP content (mean/std per
    channel + luminance + geometry), stub byte-statistics for compressed
    formats the container can't decode."""
    if content is not None and len(content) >= 2 and content[:2] == b"BM":
        import numpy as np

        px = decode_bmp(bytes(content)).astype(np.float64)
        lum = 0.2126 * px[:, :, 0] + 0.7152 * px[:, :, 1] + 0.0722 * px[:, :, 2]
        return [
            float(px.shape[1]),  # width
            float(px.shape[0]),  # height
            round(float(px[:, :, 0].mean()), 4),
            round(float(px[:, :, 1].mean()), 4),
            round(float(px[:, :, 2].mean()), 4),
            round(float(lum.mean()), 4),
            round(float(lum.std()), 4),
            round(float(np.median(lum)), 4),
        ]
    return _fake_decode_image(content)


def extract_image_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one feature row per
    media row out.  Runs fully parallel per partition; no shuffle."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = [
                decode_image_features(bytes(c)) if c is not None else [0.0] * _FEATURE_DIM
                for c in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "feature": feats,
                }
            )

    return df.filter(F.col("media_type") == "image").mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: emits one row per sampled timestamp.
    Decode is stubbed (deterministic fake frames); the row-explosion shape and
    timestamp arithmetic are real."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame": []}
            for _, row in pdf.iterrows():
                dur = int(row["duration_ms"] or 0)
                content = bytes(row["content"]) if row["content"] is not None else b""
                for i, ts in enumerate(range(0, dur, every_ms)):
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(ts)
                    out["frame"].append(_fake_decode_image(content[ts % max(len(content), 1) :] or b"\0"))
            yield pd.DataFrame(out)

    return df.filter(F.col("media_type") == "video").mapInPandas(run, FRAME_SAMPLE_SCHEMA)


RESIZED_SCHEMA = (
    "media_id string, width int, height int, content binary"
)


def resize_images(df: DataFrame, max_width: int = 224, max_height: int = 224) -> DataFrame:
    """Image resize kernel: aspect-preserving downscale to fit the target box.
    BMP content is REALLY resampled (nearest-neighbor via numpy index grids)
    and re-encoded; compressed formats pass bytes through untouched (codec
    stub) with exact output geometry either way."""
    import pandas as pd

    def resize_one(content, w, h):
        w, h = int(w or 1), int(h or 1)
        scale = min(max_width / w, max_height / h, 1.0)
        nw, nh = max(int(w * scale), 1), max(int(h * scale), 1)
        if content is not None and bytes(content[:2]) == b"BM":
            import numpy as np

            px = decode_bmp(bytes(content))
            ih, iw = px.shape[0], px.shape[1]
            scale2 = min(max_width / iw, max_height / ih, 1.0)
            nw, nh = max(int(iw * scale2), 1), max(int(ih * scale2), 1)
            ys = (np.arange(nh) * ih // nh).astype(int)
            xs = (np.arange(nw) * iw // nw).astype(int)
            return encode_bmp(px[ys][:, xs]), nw, nh
        return content, nw, nh

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            contents, widths, heights = [], [], []
            for c, w, h in zip(pdf["content"], pdf["width"], pdf["height"]):
                nc, nw, nh = resize_one(c, w, h)
                contents.append(nc)
                widths.append(nw)
                heights.append(nh)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": widths,
                    "height": heights,
                    "content": contents,
                }
            )

    return df.filter(F.col("media_type") == "image").mapInPandas(run, RESIZED_SCHEMA)


def repartition_for_decode(
    df: DataFrame,
    target_bytes_per_partition: int = 256 << 20,
    id_col: str = "media_id",
) -> DataFrame:
    """Byte-balance decode partitions: bin rows by CUMULATIVE payload bytes
    (each bin ≈ target bytes), then partition by bin.

    A plain repartitionByRange on the size column does NOT byte-balance —
    range boundaries are ROW-COUNT quantiles, so 100 1-GB videos among
    100k thumbnails land in ~one partition (the exact mixed-media decode
    straggler this function exists to kill).  The cumulative binning is
    the pack_sequences rule applied to bytes: a two-level prefix sum over
    a SLIM (id, bytes) projection (sampling.global_cumsum — the content
    column never rides the cumsum), the bin joined back on the id.  Costs
    one extra slim-side pass + corpus join over the naive version; the
    decode stage it feeds is the expensive one, and its wall time is its
    slowest partition.  A single blob larger than the target still owns
    its bin alone — no row-level split.

    The final exchange HASHES on the bin (repartition, not
    repartitionByRange): the range partitioner draws row-count-quantile
    boundaries, and byte-equal bins have wildly unequal row counts by
    design — sampled boundaries collapse onto the many-row bins and the
    few-row giant bins all land in partition 0 (measured: 402 rows /
    3 bins -> ONE non-empty range partition).  Hashing sends each bin
    wholly to one partition; with ~n_bins buckets the expected load is
    ~1 bin (= target bytes) per partition."""
    from persistor_spark.analytics.sampling import global_cumsum

    t = int(target_bytes_per_partition)
    slim = df.select(
        id_col, F.coalesce(F.length("content"), F.lit(0)).cast("long").alias("__bytes")
    )
    cum, total = global_cumsum(slim, "__bytes", [id_col], out_col="__cum")
    bins = cum.select(
        id_col, F.expr(f"(__cum - __bytes) div {t}").alias("__bin")
    )
    n_parts = max(int(total // t) + 1, 1)
    return (
        df.join(bins, id_col)
        .repartition(n_parts, "__bin")
        .drop("__bin")
    )


def synthesize_media(spark, documents: DataFrame, n: int | None = None) -> DataFrame:
    """Deterministic fake media table derived from `documents` payload text —
    test/fixture glue (no media fixture ships with the driver).  Image rows
    carry REAL uncompressed BMP bytes (procedural gradient seeded by doc_id)
    so the real decode path is exercised; audio/video rows carry opaque
    bytes for the stub path."""
    import pandas as pd

    base = documents.select(
        F.col("doc_id"),
        F.concat(F.lit("media-"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("raw"),
        (F.col("doc_id") % 120 + 8).cast("int").alias("width"),
        (F.col("doc_id") % 90 + 8).cast("int").alias("height"),
        (F.col("doc_id") % 10000).cast("long").alias("duration_ms"),
    )
    if n:
        base = base.limit(n)
    # parallelize the synthesis: documents arrive as ~one scan partition at
    # fixture scale, and mapInPandas inherits partitioning — the BMP/WAV/AVI
    # generation then runs single-threaded (measured: the whole stage was 1
    # task).  Hash-repartitioning the SLIM pre-content rows (text + scalars,
    # no media bytes yet) is a trivially small shuffle that fans the Python
    # encode across every core; doc_id hashing keeps the row->partition map
    # deterministic under task retry (guide §2.5).
    base = base.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    out_schema = MEDIA_SCHEMA

    def materialize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            contents, mimes = [], []
            for mt, raw, w, h, did, dur in zip(
                pdf["media_type"],
                pdf["raw"],
                pdf["width"],
                pdf["height"],
                pdf["doc_id"],
                pdf["duration_ms"],
            ):
                if mt == "image":
                    w, h = int(w), int(h)
                    yy, xx = np.mgrid[0:h, 0:w]
                    img = np.stack(
                        [
                            (xx * 7 + int(did)) % 256,
                            (yy * 13 + int(did) * 3) % 256,
                            (xx + yy + int(did) * 5) % 256,
                        ],
                        axis=-1,
                    ).astype(np.uint8)
                    contents.append(encode_bmp(img))
                    mimes.append("image/bmp")
                elif mt == "audio":
                    # REAL RIFF PCM16 WAV (deterministic tone) so the audio
                    # decode path is exercised for real, like the BMP path
                    contents.append(encode_wav(synthesize_wave(int(did), int(dur))))
                    mimes.append("audio/wav")
                elif mt == "video":
                    # REAL minimal AVI container (uncompressed DIB frames)
                    contents.append(encode_avi(synthesize_clip(int(did), int(dur))))
                    mimes.append("video/x-msvideo")
                else:
                    contents.append(bytes(raw) if raw is not None else b"")
                    mimes.append("application/octet-stream")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "content": contents,
                    "mime": mimes,
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "duration_ms": pdf["duration_ms"],
                }
            )

    return base.mapInPandas(materialize, out_schema)


# ---------------------------------------------------------------------------
# REAL WAV (RIFF PCM16) codec — public spec, stdlib struct + numpy, mirrors
# the BMP path: compressed codecs (mp3/aac/...) stay stubbed (no libs in the
# container), but the uncompressed-container path is exercised for real.
# ---------------------------------------------------------------------------

def encode_wav(samples, rate: int = 4000) -> bytes:
    """mono int16 PCM -> RIFF/WAVE bytes (44-byte canonical header)."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    data = s.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(content: bytes):
    """RIFF/WAVE PCM16 mono -> (rate, int16 numpy array).  REAL decode —
    walks the chunk list, raises on anything it can't honestly parse."""
    import struct

    import numpy as np

    if len(content) < 44 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, bits, channels = 12, None, None, None
    while pos + 8 <= len(content):
        cid, csize = struct.unpack_from("<4sI", content, pos)
        body = content[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt_tag, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt_tag != 1:
                raise ValueError("compressed WAV unsupported (PCM only)")
        elif cid == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt")
            if bits != 16 or channels != 1:
                raise ValueError("only mono PCM16 supported")
            return rate, np.frombuffer(body, dtype="<i2")
        pos += 8 + csize + (csize % 2)
    raise ValueError("no data chunk")


def synthesize_wave(doc_id: int, duration_ms: int, rate: int = 4000):
    """Deterministic test tone for a doc: sine at (100 + doc_id % 400) Hz,
    amplitude 0.5, `duration_ms` long."""
    import numpy as np

    n = max(rate * int(duration_ms) // 1000, 1)
    t = np.arange(n, dtype=np.float64) / rate
    freq = 100.0 + (int(doc_id) % 400)
    return (np.sin(2 * np.pi * freq * t) * 0.5 * 32767).astype("int16")


def decode_audio_features(content: bytes) -> list[float]:
    """REAL audio features from a PCM16 WAV: RMS, zero-crossing rate, peak,
    and 5 log-energy bands from one rfft — the MFCC-shaped statistics a DSP
    chain would produce, minus the codec dependencies."""
    import numpy as np

    rate, s = decode_wav(content)
    x = s.astype(np.float64) / 32768.0
    if len(x) == 0:
        return [0.0] * _FEATURE_DIM
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.abs(np.diff(np.sign(x))) > 0))
    peak = float(np.max(np.abs(x)))
    spec = np.abs(np.fft.rfft(x)) ** 2
    bands = np.array_split(spec, 5)
    be = [float(np.log1p(b.sum())) for b in bands]
    return [rms, zcr, peak] + be


def extract_audio_features_real(df: DataFrame) -> DataFrame:
    """Audio twin of extract_image_features with the REAL WAV decode path:
    (media_id, rate, n_samples, decoded_ms, n_bytes, feature).  Same Arrow
    mapInPandas shape — no shuffle, bytes stay partition-local."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rates, counts, ms, nbytes, feats = [], [], [], [], []
            for c in pdf["content"]:
                b = bytes(c) if c is not None else b""
                try:  # one NULL/corrupt blob must not kill the stage —
                    rate, s = decode_wav(b)  # match the stub twins' shape
                except ValueError:
                    rates.append(0)
                    counts.append(0)
                    ms.append(0)
                    nbytes.append(len(b))
                    feats.append([0.0] * _FEATURE_DIM)
                    continue
                rates.append(rate)
                counts.append(len(s))
                ms.append(len(s) * 1000 // rate)
                nbytes.append(len(b))
                feats.append(decode_audio_features(b))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "rate": rates,
                    "n_samples": counts,
                    "decoded_ms": ms,
                    "n_bytes": nbytes,
                    "feature": feats,
                }
            )

    return df.filter(F.col("media_type") == "audio").mapInPandas(
        run,
        "media_id string, rate int, n_samples long, decoded_ms long, n_bytes long, feature array<double>",
    )


# ---------------------------------------------------------------------------
# REAL minimal AVI (RIFF, uncompressed DIB frames) — public spec; completes
# the honest-container trio (BMP images, WAV audio, AVI video).  Compressed
# video stays stubbed; the CONTAINER path — chunk walking, frame extraction,
# fps timing — is real.
# ---------------------------------------------------------------------------

def encode_avi(frames, fps: int = 10) -> bytes:
    """(n, h, w, 3) uint8 RGB frames -> uncompressed AVI bytes ('00db' DIB
    frames, bottom-up BGR rows padded to 4 — the same pixel layout as BMP)."""
    import struct

    import numpy as np

    fr = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = fr.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    frame_size = (row + pad) * h

    def dib(f):
        body = bytearray()
        for y in range(h - 1, -1, -1):
            body += f[y, :, ::-1].tobytes()
            body += b"\x00" * pad
        return bytes(body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, frame_size * fps, 0, 0x10, n, 0, 1, frame_size, w, h,
        0, 0, 0, 0,
    )
    # AVISTREAMHEADER: type, handler, flags, prio, lang, initFrames, scale,
    # rate, start, length, bufsize, quality, samplesize, rcFrame(4 shorts)
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4H",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n, frame_size, -1, 0,
        0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0)
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf)) + b"strl" \
        + b"strh" + struct.pack("<I", len(strh)) + strh \
        + b"strf" + struct.pack("<I", len(strf)) + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + 8 + len(avih) + len(strl)) + b"hdrl" \
        + b"avih" + struct.pack("<I", len(avih)) + avih + strl
    movi_body = b"".join(
        b"00db" + struct.pack("<I", frame_size) + dib(fr[i]) for i in range(n)
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi(content: bytes):
    """Minimal honest AVI reader: returns (fps, frames list of (h, w, 3)
    uint8 RGB).  Walks RIFF chunks, reads avih/strf for timing + geometry,
    decodes each '00db' DIB frame; raises on compressed streams."""
    import struct

    import numpy as np

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    fps = w = h = None
    frames = []

    def walk(buf, pos, end):
        nonlocal fps, w, h
        while pos + 8 <= end:
            cid, csize = struct.unpack_from("<4sI", buf, pos)
            body_start = pos + 8
            if cid == b"LIST":
                walk(buf, body_start + 4, body_start + csize)
            elif cid == b"avih":
                usec = struct.unpack_from("<I", buf, body_start)[0]
                fps = round(1_000_000 / usec) if usec else None
            elif cid == b"strf":
                _, w_, h_, _, bits = struct.unpack_from("<IiiHH", buf, body_start)
                if bits != 24:
                    raise ValueError("only uncompressed 24-bit DIB supported")
                w, h = w_, h_
            elif cid == b"00db":
                if w is None:
                    raise ValueError("frame chunk before strf header")
                row = w * 3
                pad = (4 - row % 4) % 4
                arr = np.frombuffer(buf, dtype=np.uint8, count=(row + pad) * h, offset=body_start)
                arr = arr.reshape(h, row + pad)[:, :row].reshape(h, w, 3)
                frames.append(arr[::-1, :, ::-1].copy())  # bottom-up BGR -> RGB
            elif cid == b"00dc":
                raise ValueError("compressed frames unsupported")
            pos = body_start + csize + (csize % 2)

    walk(content, 12, len(content))
    if fps is None or not frames:
        raise ValueError("missing avih header or frames")
    return fps, frames


def synthesize_clip(doc_id: int, duration_ms: int, fps: int = 10, w: int = 16, h: int = 12):
    """Deterministic gradient clip: n = min(duration_ms // 100, 30) frames
    (capped so synthesized media stays small), frame i tinted by (doc_id, i)."""
    import numpy as np

    n = max(min(int(duration_ms) // 100, 30), 1)
    yy, xx = np.mgrid[0:h, 0:w]
    out = np.stack(
        [
            np.stack(
                [
                    (xx * 3 + int(doc_id) + i * 11) % 256,
                    (yy * 5 + int(doc_id) * 3 + i * 7) % 256,
                    (xx + yy + int(doc_id) * 5 + i * 13) % 256,
                ],
                axis=-1,
            )
            for i in range(n)
        ]
    ).astype(np.uint8)
    return out


def sample_frames_real(df: DataFrame, every_ms: int = 200) -> DataFrame:
    """REAL frame sampling: decode the AVI container, emit one row per
    sampled timestamp with honest per-frame statistics.  Same mapInPandas
    row-explosion shape as the stub `sample_frames`; bytes never shuffle."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {
                "media_id": [], "n_frames": [], "fps": [], "frame_idx": [],
                "frame_ts_ms": [], "height": [], "width": [], "mean_lum": [],
            }
            for _, row in pdf.iterrows():
                content = bytes(row["content"]) if row["content"] is not None else b""
                try:  # skip NULL/corrupt clips instead of killing the stage
                    fps, frames = decode_avi(content)
                except ValueError:
                    continue
                if not frames:
                    continue
                clip_ms = len(frames) * 1000 // fps
                for ts in range(0, max(clip_ms, 1), every_ms):
                    idx = min(ts * fps // 1000, len(frames) - 1)
                    f = frames[idx].astype(np.float64)
                    out["media_id"].append(row["media_id"])
                    out["n_frames"].append(len(frames))
                    out["fps"].append(fps)
                    out["frame_idx"].append(idx)
                    out["frame_ts_ms"].append(ts)
                    out["height"].append(f.shape[0])
                    out["width"].append(f.shape[1])
                    out["mean_lum"].append(round(float(f.mean()), 4))
            yield pd.DataFrame(out)

    return df.filter(F.col("media_type") == "video").mapInPandas(
        run,
        "media_id string, n_frames int, fps int, frame_idx int, "
        "frame_ts_ms int, height int, width int, mean_lum double",
    )


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash over REAL decoded BMP pixels: sample an
    8-column x 9-row luminance grid (nearest-neighbor, the no-averaging
    dHash variant), set bit j*7+i when lum(col i+1, row j) > lum(col i,
    row j) — a 63-BIT hash (not the classic 64) so the value lives in a
    signed 64-bit lane in every engine without unsigned-wrap tricks.

    Arrow-batched mapInPandas, no shuffle: (media_id, dhash).  Near-dup
    candidates then come from a SimHash-style band join on 9 disjoint
    7-bit bands (Hamming distance <= 8 guarantees >= 1 intact band by
    pigeonhole), never an all-pairs compare."""
    import pandas as pd

    def one(content) -> int:
        import numpy as np

        if not content:  # NULL/empty blob -> empty hash, not a dead stage
            return 0
        px = decode_bmp(bytes(content)).astype(np.float64)
        lum = 0.2126 * px[:, :, 0] + 0.7152 * px[:, :, 1] + 0.0722 * px[:, :, 2]
        h, w = lum.shape
        cols = [i * w // 8 for i in range(8)]
        rows = [j * h // 9 for j in range(9)]
        g = lum[np.ix_(rows, cols)]
        bits = 0
        for j in range(9):
            for i in range(7):
                if g[j, i + 1] > g[j, i]:
                    bits |= 1 << (j * 7 + i)
        return bits

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": [one(c) for c in pdf["content"]],
                }
            )

    return df.filter(F.col("media_type") == "image").mapInPandas(
        run, "media_id string, dhash long"
    )


def dhash_near_pairs(hashes: DataFrame, max_hamming: int = 20, k: int = 10) -> DataFrame:
    """Banded near-dup join over 63-bit dHashes: explode each hash into 9
    disjoint 7-bit bands, equi-join on (band index, band value) — the
    SimHash candidate-generation shape, cost tracks band-bucket occupancy,
    never n² — then verify with bit_count(xor) and keep the k closest
    pairs (Hamming asc, then ids).  Pairs at Hamming <= 8 are guaranteed
    candidates (pigeonhole over 9 bands); the looser `max_hamming` cut
    only filters what the bands happened to surface."""
    bands = hashes.select(
        F.col("media_id").alias("id"),
        F.col("dhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(kk).alias("k"),
                    F.shiftright(F.col("dhash"), 7 * kk)
                    .bitwiseAND(F.lit(127))
                    .alias("band"),
                )
                for kk in range(9)
            ])
        ).alias("bk"),
    ).select("id", "dhash", F.col("bk.k").alias("k"), F.col("bk.band").alias("band"))
    a = bands.select("k", "band", F.col("id").alias("a"), F.col("dhash").alias("ha"))
    b = bands.select("k", "band", F.col("id").alias("b"), F.col("dhash").alias("hb"))
    cand = (
        a.join(b, ["k", "band"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy(F.col("hamming").asc(), F.col("a").asc(), F.col("b").asc())
        .limit(k)
    )
