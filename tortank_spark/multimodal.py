"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns + typed metadata structs.

REAL decode for uncompressed container formats — implemented here in
pure numpy (no codec libraries needed): PPM (P6) and BMP (24-bit
BI_RGB) images, and WAV (RIFF PCM-16 mono) audio, including a real
area-average (box-filter) image resize. Compressed formats (JPEG, MP3,
H.264, ...) genuinely require codec libraries that are absent in this
environment; those fall back to a clearly-marked deterministic stub
(``decode_ok = 'stubbed'``) that a deployment replaces via DECODERS.

Design notes for 100 TB of media:
* media bytes ride in their own table keyed by content hash; feature
  extraction, resize and frame sampling each run as one
  ``extract.row_stage`` (a single ``mapInArrow`` stage) over (hash,
  type, bytes), so the wide binary column never joins through a
  shuffle — results join back by hash.
* Arrow batch memory = rows x blob size, and no stage here takes a
  batch-size option: for multi-MB blobs, lower the session's
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` for the job.
* feature math uses exact-integer sums in float64 so the DuckDB
  oracle reproduces every value bit-for-bit from the fixture formula.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .extract import row_stage

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("content_sha256", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),
        StructField("meta_width", LongType(), True),
        StructField("meta_height", LongType(), True),
        StructField("meta_duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("content_sha256", StringType(), False),
        StructField("media_type", StringType(), False),
        # double (not float32): features are exact float64 functions of
        # integer pixel/sample sums, and the oracle recomputes them —
        # a float32 round-trip would reintroduce precision noise
        StructField("feature", ArrayType(DoubleType()), True),
        StructField("decode_ok", StringType(), False),  # ok|stubbed|error
    ]
)


# what the per-medium stages read: the wide ``content`` blob and the
# two keys, never the metadata a stage does not use
_MEDIA_COLS = ["content_sha256", "media_type", "content"]


class UnsupportedMediaFormat(Exception):
    """Raised when the blob's container format is recognized as one we
    have no codec for (e.g. JPEG) — the caller stubs instead of
    erroring. Corrupt data in a SUPPORTED container raises ValueError
    and becomes decode_ok='error'."""


# ------------------------------------------------- pure-numpy codecs ---

def decode_ppm(blob: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval 255) -> (h, w, 3) uint8."""
    if not blob.startswith(b"P6"):
        raise UnsupportedMediaFormat("not a P6 PPM")
    # header: magic, width, height, maxval — whitespace/comment tolerant
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    # the spec says ONE whitespace byte after maxval, but Windows
    # text-mode writers emit CRLF; treating '\r\n' as one separator
    # avoids silently decoding a one-byte-shifted raster as 'ok'
    if blob[pos : pos + 2] == b"\r\n":
        pos += 2
    else:
        pos += 1
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    need = w * h * 3
    raster = blob[pos : pos + need]
    if len(raster) != need:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def decode_bmp(blob: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP -> (h, w, 3) uint8 (RGB order;
    the file stores BGR bottom-up with rows padded to 4 bytes)."""
    if not blob.startswith(b"BM"):
        raise UnsupportedMediaFormat("not a BMP")
    if len(blob) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", blob, 10)[0]
    w, h = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    compression = struct.unpack_from("<I", blob, 30)[0]
    if bpp != 24 or compression != 0:
        raise UnsupportedMediaFormat(f"BMP bpp={bpp} compression={compression}")
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    need = stride * h
    if len(blob) < data_off + need:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(
        blob, dtype=np.uint8, count=need, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    body = raster.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + body


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """RIFF WAVE, PCM 16-bit mono -> (int16 samples, sample_rate)."""
    if not (blob.startswith(b"RIFF") and blob[8:12] == b"WAVE"):
        raise UnsupportedMediaFormat("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid, size = blob[pos : pos + 4], struct.unpack_from("<I", blob, pos + 4)[0]
        body = blob[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16 or channels != 1:
        raise UnsupportedMediaFormat(
            f"WAV format={audio_format} bits={bits} channels={channels}"
        )
    return np.frombuffer(data, dtype="<i2"), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    body = samples.astype("<i2").tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(body), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
        + struct.pack("<4sI", b"data", len(body)) + body
    )


def image_features(arr: np.ndarray) -> list:
    """[w, h, mean, std, min, max, mean_r, mean_g, mean_b] — every
    aggregate is an exact-integer sum divided in float64, so the SQL
    oracle reproduces the values bit-exactly from the pixel formula."""
    h, w, _ = arr.shape
    flat = arr.astype(np.int64)
    n = flat.size
    s = int(flat.sum())
    s2 = int((flat * flat).sum())
    mean = s / n
    var = s2 / n - mean * mean
    ch_means = [float(int(flat[..., c].sum()) / (w * h)) for c in range(3)]
    return [
        float(w), float(h), mean, float(np.sqrt(max(var, 0.0))),
        float(flat.min()), float(flat.max()), *ch_means,
    ]


def audio_features(samples: np.ndarray, rate: int) -> list:
    """[n_samples, rate, mean, rms, min, max] — exact-integer sums."""
    x = samples.astype(np.int64)
    n = max(x.size, 1)
    s = int(x.sum())
    s2 = int((x * x).sum())
    return [
        float(x.size), float(rate), s / n, float(np.sqrt(s2 / n)),
        float(x.min()) if x.size else 0.0,
        float(x.max()) if x.size else 0.0,
    ]


def _stub_decoder(media_type: str, blob: bytes) -> np.ndarray:
    """STUB for COMPRESSED formats only (JPEG/MP3/H.264 need codec libs
    absent in this container). Deterministic fake features derived from
    the bytes so the plumbing is testable; a real deployment replaces
    DECODERS entries with PIL/librosa/etc."""
    h = hashlib.sha256(blob or b"").digest()
    return (
        np.frombuffer(h, dtype=np.uint8).astype(np.float64) / 255.0
    )[:16]


DECODERS: dict[str, Callable[[str, bytes], np.ndarray]] = {
    "image": _stub_decoder,   # fallback for non-PPM/BMP images
    "audio": _stub_decoder,   # fallback for non-WAV audio
    "video": _stub_decoder,   # all video containers are compressed
}


def _decode_features(mt: str, blob: bytes) -> tuple[list, str]:
    """(feature vector, status): real decode for supported uncompressed
    containers, registry fallback (stub by default) otherwise."""
    try:
        if mt == "image":
            if blob.startswith(b"P6"):
                return image_features(decode_ppm(blob)), "ok"
            if blob.startswith(b"BM"):
                return image_features(decode_bmp(blob)), "ok"
        elif mt == "audio":
            if blob.startswith(b"RIFF"):
                return audio_features(*decode_wav(blob)), "ok"
    except UnsupportedMediaFormat:
        pass  # recognized-but-unsupported variant -> stub below
    dec = DECODERS.get(mt)
    if dec is None:
        raise ValueError(f"no decoder registered for {mt}")
    feat = dec(mt, blob)
    return [float(x) for x in feat], (
        "stubbed" if dec is _stub_decoder else "ok"
    )


def extract_features(media: DataFrame) -> DataFrame:
    """(content_sha256, media_type, content) -> one feature row per
    medium, in one ``row_stage``. PPM/BMP/WAV decode for real (pure
    numpy); compressed formats go through DECODERS (stub by default)."""

    def per_row(sha, mt, blob):
        try:
            feat, status = _decode_features(mt, blob or b"")
            return ((sha, mt, feat, status),)
        except NotImplementedError:
            return ((sha, mt, None, "stubbed"),)
        except Exception:
            return ((sha, mt, None, "error"),)

    return row_stage(media, _MEDIA_COLS, per_row, FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("content_sha256", StringType(), False),
        StructField("out_width", LongType(), False),
        StructField("out_height", LongType(), False),
        StructField("resized", BinaryType(), True),
        # checksum (sum of raster bytes) computed in the same row
        # stage — lets the driver oracle pin the resample math without
        # shipping the raster through the value-hash
        StructField("resized_sum", LongType(), True),
        StructField("decode_ok", StringType(), False),
    ]
)


def _stub_resize(blob: bytes, w: int, h: int) -> bytes:
    """STUB resize for COMPRESSED image formats (no codec libs here):
    deterministic byte surrogate of a (w, h) raster — real deployments
    register a PIL/pyvips decode+resize. Output length w*h*3 so
    batch-memory accounting in tests is realistic."""
    seed = hashlib.sha256((blob or b"") + f"{w}x{h}".encode()).digest()
    reps = (w * h * 3) // len(seed) + 1
    return (seed * reps)[: w * h * 3]


def _box_weights(src: int, dst: int) -> np.ndarray:
    """(dst, src) fractional-coverage weights of the area-average (box)
    filter: out pixel D covers source span [D*src/dst, (D+1)*src/dst);
    each source pixel contributes its overlap length. Rows sum to 1."""
    scale = src / dst
    w = np.zeros((dst, src))
    for d in range(dst):
        lo, hi = d * scale, (d + 1) * scale
        for s in range(int(np.floor(lo)), min(int(np.ceil(hi)), src)):
            w[d, s] = min(s + 1, hi) - max(s, lo)
    return w / scale


def box_resize(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Real area-average resize (the standard antialiasing downsample;
    averages source boxes on upsample too). Separable: one weight
    matrix per axis, applied as two matmuls per channel; rounding is
    floor(v + 0.5) — half-up, not banker's — so the value is a pure
    deterministic function of the input raster."""
    wy = _box_weights(arr.shape[0], out_h)
    wx = _box_weights(arr.shape[1], out_w)
    acc = np.einsum("Yy,yxc,Xx->YXc", wy, arr.astype(np.float64), wx)
    return np.clip(np.floor(acc + 0.5), 0, 255).astype(np.uint8)


def resize_images(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image resize in one ``row_stage``: (hash, bytes) -> (hash,
    resized RGB raster, w*h*3 bytes row-major). PPM/BMP decode +
    box-filter resample for real; compressed formats fall back to the
    stub; a non-image row is ``skipped``."""

    def per_row(sha, mt, blob):
        if mt != "image":
            return ((sha, width, height, None, None, "skipped"),)
        b = blob or b""
        try:
            # recognized-but-unsupported variants (e.g. 32-bpp or RLE
            # BMP) fall back to the stub, matching the extract_features
            # contract; only corrupt data in a supported container
            # becomes 'error'
            arr = None
            try:
                if b.startswith(b"P6"):
                    arr = decode_ppm(b)
                elif b.startswith(b"BM"):
                    arr = decode_bmp(b)
            except UnsupportedMediaFormat:
                arr = None
            if arr is not None:
                out, status = box_resize(arr, width, height).tobytes(), "ok"
            else:
                out, status = _stub_resize(b, width, height), "stubbed"
            return ((sha, width, height, out, sum(out), status),)
        except Exception:
            return ((sha, width, height, None, None, "error"),)

    return row_stage(media, _MEDIA_COLS, per_row, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("content_sha256", StringType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_ts_ms", LongType(), False),
        StructField("frame", BinaryType(), True),
        StructField("decode_ok", StringType(), False),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling in one ``row_stage``: one output row per
    sampled timestamp of a video with a duration, none for any other
    row (the explode happens INSIDE the stage, so the multi-MB source
    blob crosses Arrow once, not once per frame). Frame decode is
    stubbed; the fan-out shape, metadata pruning and timestamp
    arithmetic are real."""

    def per_row(sha, mt, blob, dur):
        if mt != "video" or dur is None:
            return ()
        b = blob or b""
        return [
            (sha, idx, ts,
             hashlib.sha256(b + ts.to_bytes(8, "little")).digest(),
             "stubbed")
            for idx, ts in enumerate(range(0, dur, every_ms))
        ]

    return row_stage(media, [*_MEDIA_COLS, "meta_duration_ms"], per_row,
                     FRAME_SCHEMA)


def media_fixture_rows(n: int = 32) -> list:
    """Deterministic media fixture (no external data), REAL containers
    for the uncompressed formats so the decoders run for real:

    * i % 3 == 0 -> image: alternating PPM / BMP of the same logical
      raster, w = 4 + (i%4)*2, h = 3 + ((i//3)%3)*2, pixel byte
      j (row-major RGB) = (i*7 + j*13) % 256 — a closed formula the
      SQL oracle regenerates.
    * i % 3 == 1 -> audio: WAV PCM-16 mono @ 8 kHz, 64 + 8*i samples,
      sample j = ((i*31 + j*17) % 4096) - 2048.
    * i % 3 == 2 -> video: opaque deterministic ASCII payload
      (compressed containers need real codecs -> stub path; ASCII so
      the SQL oracle can recompute the stub's sha256), duration (i+1) s.
    """
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = 4 + (i % 4) * 2, 3 + ((i // 3) % 3) * 2
            pix = np.array(
                [(i * 7 + j * 13) % 256 for j in range(w * h * 3)],
                dtype=np.uint8,
            ).reshape(h, w, 3)
            blob = encode_ppm(pix) if (i // 3) % 2 == 0 else encode_bmp(pix)
            width, height, dur = w, h, None
        elif kind == "audio":
            ns = 64 + 8 * i
            samples = np.array(
                [((i * 31 + j * 17) % 4096) - 2048 for j in range(ns)],
                dtype=np.int16,
            )
            blob = encode_wav(samples, 8000)
            width, height, dur = None, None, ns * 1000 // 8000
        else:
            blob = (f"media-{i}-opaque-video-payload" * 4).encode()
            width, height, dur = None, None, 1000 * (i + 1)
        rows.append(
            (
                i,
                hashlib.sha256(blob).hexdigest(),
                kind,
                bytearray(blob),
                width,
                height,
                dur,
            )
        )
    return rows


def make_media_table(spark, n: int = 32) -> DataFrame:
    """Deterministic fake media rows for tests (see media_fixture_rows)."""
    return spark.createDataFrame(media_fixture_rows(n), MEDIA_SCHEMA)
