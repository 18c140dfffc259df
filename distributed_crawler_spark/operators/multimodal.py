"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side structure is real and tested — schemas, Arrow batch shape,
``mapInPandas`` partition flow, partitioning. Since round 6 EVERY
synthesized media row decodes a REAL container format, all pure stdlib:

* images — uncompressed 24-bit BMP (round 5) and 8-bit RGB/RGBA PNG
  (full chunk walk, zlib inflate, filter-type 0-4 row unfiltering);
* audio — RIFF/WAVE 16-bit PCM (chunk walk, fmt/data parse, real
  sample extraction; features are PCM stats: RMS, zero crossings...);
* video — RIFF/AVI with uncompressed bottom-up DIB frames (the
  Video-for-Windows raw format; nested-LIST RIFF walk, dims from the
  strf BITMAPINFOHEADER, true per-frame demux for frame sampling).

Decode extracts true header metadata and payload-derived features,
resize does real nearest-neighbor resampling (per-frame for AVI,
sample resampling for WAV) re-encoded in the source format. These four
are the formats the oracles pin. Every other payload — JPEG, MP4, MP3,
corrupt bytes — falls back to the clearly-marked deterministic
``_fake_decode`` stub, so arbitrary user data stays handled and a real
deployment only swaps the fallback for PIL / soundfile / pyav.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---- pure-stdlib BMP codec (24-bit uncompressed BI_RGB) -------------------

BMP_HEADER_SIZE = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def bmp_row_size(width: int) -> int:
    """Bytes per stored row: 3 bytes/pixel padded to a 4-byte boundary."""
    return (3 * width + 3) // 4 * 4


def make_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Encode a REAL uncompressed 24-bit bottom-up BMP (pure stdlib).
    ``pixel_fn(x, y) -> (b, g, r)`` with (0, 0) the visual top-left —
    the encoder handles BMP's bottom-up row storage."""
    row_size = bmp_row_size(width)
    image_size = row_size * height
    header = struct.pack(
        "<2sIHHI", b"BM", BMP_HEADER_SIZE + image_size, 0, 0, BMP_HEADER_SIZE
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # stored bottom-up
        row = bytearray()
        for x in range(width):
            b, g, r = pixel_fn(x, y)
            row += bytes((b & 255, g & 255, r & 255))
        row += b"\x00" * (row_size - 3 * width)
        rows.append(bytes(row))
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes) -> dict | None:
    """Parse an uncompressed 24-bit BMP into {width, height, pixels}
    (pixels row-major, top-down, (b, g, r) tuples; top-down BMPs —
    negative height — are normalized). Returns None for anything that
    isn't one, so callers can fall back to the stub for formats the
    container can't decode."""
    if len(payload) < BMP_HEADER_SIZE or payload[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    top_down = height < 0
    h = abs(height)
    row_size = bmp_row_size(width)
    if data_off + row_size * h > len(payload):
        return None
    pixels = []
    for yy in range(h):
        src = yy if top_down else h - 1 - yy
        base = data_off + src * row_size
        pixels.append(
            [
                tuple(payload[base + 3 * x : base + 3 * x + 3])
                for x in range(width)
            ]
        )
    return {"width": width, "height": h, "pixels": pixels}


# ---- pure-stdlib PNG codec (8-bit RGB/RGBA, non-interlaced) ---------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _zlib_stored(data: bytes) -> bytes:
    """A valid zlib stream built from deflate STORED blocks — inflates
    with any zlib, but is byte-deterministic BY CONSTRUCTION (no
    dependence on the library's compressor), so the encoded PNG size is
    arithmetically derivable in the SQL oracles:
    2 (zlib hdr) + 5 per block + len(data) + 4 (adler32)."""
    import zlib

    out = bytearray(b"\x78\x01")
    n = len(data)
    pos = 0
    while True:
        chunk = data[pos : pos + 65535]
        pos += len(chunk)
        last = pos >= n
        out += struct.pack("<BHH", 1 if last else 0, len(chunk), len(chunk) ^ 0xFFFF)
        out += chunk
        if last:
            break
    out += struct.pack(">I", zlib.adler32(data) & 0xFFFFFFFF)
    return bytes(out)


def png_encoded_size(width: int, height: int) -> int:
    """Exact byte size of a make_png(default) file: 8 signature + 25 IHDR
    + 12 IEND + IDAT chunk framing 12 + stored-zlib(scanlines) where the
    scanline stream is height x (1 filter byte + 3 x width)."""
    n = height * (1 + 3 * width)
    nblocks = max((n + 65534) // 65535, 1)
    return 57 + 2 + 5 * nblocks + n + 4


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_predictor(ftype: int, cur, prev, i: int, bpp: int) -> int:
    """Predictor byte for filter types 0-4 at offset i of a row; ``cur``
    supplies the reconstructed left neighbor (decode) or the raw left
    neighbor (encode) — the PNG spec defines both directions over the
    same a/b/c neighbors."""
    a = cur[i - bpp] if i >= bpp else 0
    b = prev[i] if prev is not None else 0
    c = prev[i - bpp] if (prev is not None and i >= bpp) else 0
    if ftype == 0:
        return 0
    if ftype == 1:
        return a
    if ftype == 2:
        return b
    if ftype == 3:
        return (a + b) // 2
    return _paeth(a, b, c)


def _png_filter_row(ftype: int, row: bytes, prev, bpp: int = 3) -> bytes:
    out = bytearray(len(row))
    for i in range(len(row)):
        out[i] = (row[i] - _png_predictor(ftype, row, prev, i, bpp)) & 255
    return bytes(out)


def _png_unfilter_row(ftype: int, row: bytes, prev, bpp: int = 3) -> bytes:
    out = bytearray(len(row))
    for i in range(len(row)):
        out[i] = (row[i] + _png_predictor(ftype, out, prev, i, bpp)) & 255
    return bytes(out)


def make_png(
    width: int,
    height: int,
    pixel_fn,
    *,
    compress_level: int | None = None,
    row_filter=0,
) -> bytes:
    """Encode a REAL 8-bit RGB non-interlaced PNG (pure stdlib).
    ``pixel_fn(x, y) -> (b, g, r)`` — same convention as make_bmp; the
    encoder writes PNG's RGB sample order. Default output uses filter 0
    + a stored-block zlib stream so the byte size is exactly
    png_encoded_size(w, h) (oracle-derivable); pass ``compress_level``
    and/or ``row_filter`` (an int 0-4 or a callable y -> ftype) to emit
    genuinely compressed/filtered files — the round-trip tests decode
    those through the same decode_png path."""
    import zlib

    rows = []
    prev = None
    for y in range(height):
        row = bytearray()
        for x in range(width):
            b, g, r = pixel_fn(x, y)
            row += bytes((r & 255, g & 255, b & 255))
        row = bytes(row)
        f = row_filter(y) if callable(row_filter) else row_filter
        rows.append(bytes((f,)) + _png_filter_row(f, row, prev))
        prev = row
    scan = b"".join(rows)
    idat = (
        zlib.compress(scan, compress_level)
        if compress_level is not None
        else _zlib_stored(scan)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict | None:
    """Parse an 8-bit RGB (color type 2) or RGBA (type 6, alpha dropped)
    non-interlaced PNG into {width, height, pixels} ((b, g, r) row-major
    tuples, the decode_bmp convention): full chunk walk, zlib inflate of
    the concatenated IDAT stream, per-row unfilter for filter types 0-4.
    Returns None for anything it isn't (wrong signature, interlaced,
    16-bit, palette, truncated, corrupt deflate), so callers fall back
    to the stub."""
    import zlib

    if len(payload) < 8 or payload[:8] != PNG_SIG:
        return None
    pos = 8
    width = height = 0
    color_type = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            return None
        pos += 12 + ln  # data + length/tag/crc framing
        if tag == b"IHDR":
            if ln != 13:
                return None
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if (
                depth != 8
                or color_type not in (2, 6)
                or comp != 0
                or filt != 0
                or interlace != 0
                or width <= 0
                or height <= 0
            ):
                return None
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if not width or not height or color_type is None:
        return None
    try:
        scan = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    bpp = 3 if color_type == 2 else 4
    stride = 1 + bpp * width
    if len(scan) < stride * height:
        return None
    pixels = []
    prev = None
    for y in range(height):
        base = y * stride
        f = scan[base]
        if f > 4:
            return None
        row = _png_unfilter_row(f, scan[base + 1 : base + stride], prev, bpp)
        prev = row
        pixels.append(
            [
                (row[bpp * x + 2], row[bpp * x + 1], row[bpp * x])
                for x in range(width)
            ]
        )
    return {"width": width, "height": height, "pixels": pixels}


def decode_image(payload: bytes):
    """(decoded dict, format) for any image format this module really
    decodes — BMP, then PNG — or (None, None)."""
    d = decode_bmp(payload)
    if d is not None:
        return d, "bmp"
    d = decode_png(payload)
    if d is not None:
        return d, "png"
    return None, None


# ---- pure-stdlib WAV codec (RIFF/WAVE, 16-bit PCM) ------------------------

WAV_HEADER_SIZE = 44  # RIFF(12) + fmt chunk(24) + data chunk header(8)


def wav_encoded_size(n_samples: int, channels: int = 1) -> int:
    """Exact byte size of a make_wav file: 44-byte canonical header +
    2 bytes per sample per channel."""
    return WAV_HEADER_SIZE + 2 * n_samples * channels


def make_wav(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Encode REAL 16-bit PCM mono WAV (canonical 44-byte RIFF/WAVE
    layout, pure stdlib). ``samples`` are ints clamped to int16."""
    data = b"".join(
        struct.pack("<h", max(-32768, min(32767, int(s)))) for s in samples
    )
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,          # PCM fmt chunk size
        1,           # audio format: PCM
        1,           # channels
        sample_rate,
        sample_rate * 2,  # byte rate
        2,           # block align
        16,          # bits per sample
        b"data",
        len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> dict | None:
    """Parse a RIFF/WAVE 16-bit PCM file into {sample_rate, channels,
    samples} (ints; interleaved if multichannel): real chunk walk —
    fmt/data located by tag, unknown chunks skipped. Returns None for
    anything that isn't 16-bit PCM WAVE."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None
        if tag == b"fmt ":
            if ln < 16:
                return None
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, channels, sample_rate, _brate, _balign, bits = fmt
    if audio_fmt != 1 or bits != 16 or channels < 1:
        return None
    n = len(data) // 2
    samples = list(struct.unpack(f"<{n}h", data[: 2 * n]))
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "samples": samples,
    }


def _wav_feature(d: dict) -> list[float]:
    """8-dim feature from decoded PCM: mean/min/max, RMS, zero
    crossings, sample count, rate, duration ms — derived from REAL
    decoded samples."""
    import math

    s = d["samples"] or [0]
    n = len(s)
    mean = sum(s) / n
    rms = math.sqrt(sum(x * x for x in s) / n)
    zc = sum(
        1 for i in range(1, n) if (s[i - 1] < 0) != (s[i] < 0)
    )
    return [
        float(mean),
        float(min(s)),
        float(max(s)),
        float(rms),
        float(zc),
        float(n),
        float(d["sample_rate"]),
        float(1000.0 * n / (d["sample_rate"] * d["channels"])),
    ]


# ---- pure-stdlib AVI codec (RIFF/AVI, uncompressed bottom-up DIB) ---------


def avi_frame_size(width: int, height: int) -> int:
    """Bytes per uncompressed DIB frame (same padded-row layout BMP
    uses)."""
    return bmp_row_size(width) * height


def avi_encoded_size(width: int, height: int, n_frames: int) -> int:
    """Exact byte size of a make_avi file: RIFF hdr 12 + LIST hdrl
    (12 + avih 8+56 + LIST strl (12 + strh 8+56 + strf 8+40)) + LIST
    movi (12 + n x (8 + frame)) + idx1 (8 + 16n)."""
    f = avi_frame_size(width, height)
    return (
        12
        + (12 + 64 + (12 + 64 + 48))
        + (12 + n_frames * (8 + f))
        + (8 + 16 * n_frames)
    )


def make_avi(width: int, height: int, frame_fns: list) -> bytes:
    """Encode a REAL uncompressed AVI (RIFF 'AVI ', video stream 'DIB '
    i.e. bottom-up BGR frames — the same raw format Video-for-Windows
    writes; pure stdlib). ``frame_fns`` is one pixel_fn(x, y) -> (b, g,
    r) per frame, (0, 0) the visual top-left."""
    row_size = bmp_row_size(width)
    frames = []
    for fn in frame_fns:
        rows = []
        for y in range(height - 1, -1, -1):  # DIB frames store bottom-up
            row = bytearray()
            for x in range(width):
                b, g, r = fn(x, y)
                row += bytes((b & 255, g & 255, r & 255))
            row += b"\x00" * (row_size - 3 * width)
            rows.append(bytes(row))
        frames.append(b"".join(rows))
    fsize = row_size * height
    n = len(frames)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body

    def lst(tag: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + tag + body

    avih = struct.pack(
        "<14I",
        66666,            # microseconds per frame (15 fps)
        fsize * 15,       # max bytes per second
        0, 0x10,          # padding, flags (AVIF_HASINDEX)
        n, 0, 1, fsize,   # total frames, initial frames, streams, buffer
        width, height,
        0, 0, 0, 0,       # reserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ",
        0, 0, 0, 0,
        1, 15,            # scale / rate = 15 fps
        0, n, fsize, 0, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, fsize, 2835, 2835, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00db", f) for f in frames)
    movi = lst(b"movi", movi_body)
    idx = bytearray()
    off = 4  # offsets are relative to the start of the 'movi' tag
    for f in frames:
        idx += b"00db" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f)
    idx1 = chunk(b"idx1", bytes(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> dict | None:
    """Parse an uncompressed-DIB AVI into {width, height, n_frames,
    frames} — frames as row-major top-down (b, g, r) pixel grids (the
    decode_bmp convention): real RIFF walk (nested LISTs), dims from the
    strf BITMAPINFOHEADER, frame payloads from the movi '00db'/'00dc'
    chunks. Returns None for anything that isn't one."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    width = height = None
    raw_frames: list[bytes] = []

    def walk(pos: int, end: int) -> bool:
        nonlocal width, height
        while pos + 8 <= end:
            tag = payload[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", payload, pos + 4)
            body_start = pos + 8
            if body_start + ln > end:
                return False
            if tag == b"LIST":
                if not walk(body_start + 4, body_start + ln):
                    return False
            elif tag == b"strf" and ln >= 40:
                _sz, w, h, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, body_start
                )
                if bpp != 24 or comp != 0 or w <= 0 or h <= 0:
                    return False
                width, height = w, h
            elif tag in (b"00db", b"00dc"):
                raw_frames.append(payload[body_start : body_start + ln])
            pos = body_start + ln + (ln & 1)
        return True

    if not walk(12, len(payload)) or width is None or not raw_frames:
        return None
    row_size = bmp_row_size(width)
    if any(len(f) != row_size * height for f in raw_frames):
        return None
    frames = []
    for raw in raw_frames:
        px = []
        for yy in range(height):
            base = (height - 1 - yy) * row_size  # stored bottom-up
            px.append(
                [
                    tuple(raw[base + 3 * x : base + 3 * x + 3])
                    for x in range(width)
                ]
            )
        frames.append(px)
    return {
        "width": width,
        "height": height,
        "n_frames": len(frames),
        "frames": frames,
        "raw_frames": raw_frames,
    }


def _bmp_feature(pixels: list) -> list[float]:
    """8-dim feature from decoded pixels: per-channel means (b, g, r),
    global min/max/mean, pixel count, luma-ish mix — cheap, deterministic,
    and derived from REAL decoded pixel data."""
    flat = [c for row in pixels for p in row for c in p]
    n_px = sum(len(row) for row in pixels)
    chan = lambda i: [p[i] for row in pixels for p in row]  # noqa: E731
    mb, mg, mr = (sum(chan(i)) / n_px for i in range(3))
    return [
        float(mb),
        float(mg),
        float(mr),
        float(min(flat)),
        float(max(flat)),
        float(sum(flat) / len(flat)),
        float(n_px),
        float(0.114 * mb + 0.587 * mg + 0.299 * mr),
    ]

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def synth_bmp_dims(media_id: int) -> tuple[int, int]:
    """Deterministic synthetic image dimensions (mirrored in the
    media_features/media_summary SQL oracles)."""
    return 4 + media_id % 5, 3 + media_id % 4


def synth_png_dims(media_id: int) -> tuple[int, int]:
    """Deterministic synthetic PNG dimensions (mirrored in the SQL
    oracles; distinct formulas from the BMP dims so a format mix-up in
    the decode path shows up as a dimension mismatch)."""
    return 4 + media_id % 6, 3 + media_id % 5


def synth_is_png(media_id: int) -> bool:
    """Image rows alternate real formats: even image ordinal -> BMP, odd
    -> PNG (image rows are the media_id % 3 == 0 rows, so the ordinal is
    media_id // 3)."""
    return (media_id // 3) % 2 == 1


def synth_png(media_id: int) -> bytes:
    """Deterministic REAL PNG bytes for one synthetic image row
    (stored-block zlib, so len == png_encoded_size(w, h))."""
    w, h = synth_png_dims(media_id)
    return make_png(
        w,
        h,
        lambda x, y: (
            (media_id * 5 + 3 * x + 11 * y) % 256,
            (media_id + 9 * x + 2 * y) % 256,
            (media_id * 13 + 4 * x + y) % 256,
        ),
    )


def synth_wav_params(media_id: int) -> tuple[int, int]:
    """(n_samples, sample_rate) for one synthetic audio row (n_samples
    mirrored in the SQL oracles via 44 + 2 x n_samples)."""
    return 256 + (media_id % 7) * 64, 8000


def synth_wav(media_id: int) -> bytes:
    """Deterministic REAL 16-bit PCM WAV bytes for one audio row."""
    n, rate = synth_wav_params(media_id)
    return make_wav(
        [((media_id * 31 + i * 17) % 2003) - 1001 for i in range(n)],
        sample_rate=rate,
    )


def synth_avi_dims(media_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) for one synthetic video row (mirrored
    in the SQL oracles via avi_encoded_size)."""
    return 4 + media_id % 4, 3 + media_id % 3, 2 + media_id % 3


def synth_avi(media_id: int) -> bytes:
    """Deterministic REAL uncompressed-DIB AVI bytes for one video row."""
    w, h, nf = synth_avi_dims(media_id)

    def frame_fn(f: int):
        return lambda x, y: (
            (media_id + f * 3 + 5 * x + 7 * y) % 256,
            (media_id * 3 + f + 2 * x + y) % 256,
            (media_id * 7 + f * 11 + x + 3 * y) % 256,
        )

    return make_avi(w, h, [frame_fn(f) for f in range(nf)])


def synth_bmp(media_id: int) -> bytes:
    """Deterministic REAL BMP bytes for one synthetic image row."""
    w, h = synth_bmp_dims(media_id)
    return make_bmp(
        w,
        h,
        lambda x, y: (
            (media_id + 11 * x + 7 * y) % 256,
            (media_id * 3 + 5 * x + 13 * y) % 256,
            (media_id * 7 + x + y) % 256,
        ),
    )


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build an opaque-binary media table from the documents table —
    EVERY row carries REAL encoded bytes in an actual container format
    (round 6): image rows alternate uncompressed BMP (synth_bmp) and
    PNG (synth_png), audio rows are 16-bit PCM WAV (synth_wav), video
    rows are uncompressed-DIB AVI (synth_avi); kind round-robins
    image/audio/video."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    base = docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.col(text_col).cast("binary").alias("payload"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            def synth(mid: int, kind: str, payload):
                if kind == "image":
                    return (
                        synth_png(mid) if synth_is_png(mid) else synth_bmp(mid)
                    )
                if kind == "audio":
                    return synth_wav(mid)
                if kind == "video":
                    return synth_avi(mid)
                return payload

            pdf["payload"] = [
                synth(int(mid), kind, payload)
                for mid, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]
                )
            ]
            yield pdf

    return base.mapInPandas(run, schema=base.schema)


def _fake_decode(payload: bytes, media_id: int) -> dict:
    """STUB for every format this module doesn't decode (JPEG, MP4, MP3,
    corrupt payloads — no PIL/soundfile/pyav here): deterministic fake
    metadata + an 8-dim feature derived from the bytes. A real
    deployment replaces this fallback only — BMP/PNG/WAV/AVI are real
    decodes, and no synthesized row hits this path."""
    n = len(payload)
    width = 32 * (1 + media_id % 16)
    height = 32 * (1 + (media_id // 16) % 16)
    feature = [float((payload[i % n] if n else 0) + i) for i in range(8)]
    return {"n_bytes": n, "width": width, "height": height, "feature": feature}


def _decode_one(payload: bytes, media_id: int) -> dict:
    """REAL decode for BMP/PNG (true header dims, pixel-derived
    feature), WAV (width = sample count, height = channels, PCM-derived
    feature) and AVI (true stream dims, first-frame pixel feature);
    _fake_decode fallback for everything else."""
    d, _fmt = decode_image(payload)
    if d is not None:
        return {
            "n_bytes": len(payload),
            "width": d["width"],
            "height": d["height"],
            "feature": _bmp_feature(d["pixels"]),
        }
    w = decode_wav(payload)
    if w is not None:
        return {
            "n_bytes": len(payload),
            "width": len(w["samples"]) // w["channels"],
            "height": w["channels"],
            "feature": _wav_feature(w),
        }
    v = decode_avi(payload)
    if v is not None:
        return {
            "n_bytes": len(payload),
            "width": v["width"],
            "height": v["height"],
            "feature": _bmp_feature(v["frames"][0]),
        }
    return _fake_decode(payload, media_id)


def decode_features(media: DataFrame) -> DataFrame:
    """mapInPandas decode: binary payload → typed metadata + feature
    vector. Partition-streaming (never materializes the binary column on
    the driver); Arrow moves the bytes in batches. BMP/PNG/WAV/AVI
    payloads decode for real; other formats hit the labeled stub."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                d = _decode_one(bytes(payload) if payload is not None else b"", int(mid))
                rows.append(
                    {
                        "media_id": int(mid),
                        "kind": kind,
                        "n_bytes": d["n_bytes"],
                        "width": d["width"],
                        "height": d["height"],
                        "feature": d["feature"],
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def media_summary(features: DataFrame) -> DataFrame:
    """Typed-metadata aggregate over the decoded table (native)."""
    return (
        features.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("width"), 4).alias("avg_width"),
        )
        .orderBy("kind")
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


TRANSCODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("src_format", StringType()),
        StructField("dst_format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("src_bytes", LongType()),
        StructField("dst_bytes", LongType()),
        StructField("payload", BinaryType()),
    ]
)


_TRANSCODE_ENC = {
    "bmp": make_bmp,
    "png": make_png,  # stored-block default: size == png_encoded_size
}


def transcode_images(media: DataFrame, target: str | None = None) -> DataFrame:
    """Lossless image transcode (mapInPandas): decode each payload with
    the real codecs and re-encode the SAME pixel grid in another real
    format — ``target`` names it ('bmp'/'png'), or None flips each row
    to the OTHER format (bmp<->png). Rows whose payload doesn't decode
    as a BMP or PNG image — a JPEG included — are dropped (use
    decode_features to observe them). Because both encoders are
    deterministic and uncompressed/stored-block, the output byte size
    is an arithmetic function of the decoded dimensions — which is what
    lets the media_transcode SQL oracle re-derive src AND dst sizes
    without touching any bytes."""
    if target is not None and target not in _TRANSCODE_ENC:
        raise ValueError(f"unsupported transcode target: {target!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                d, fmt = decode_image(raw)
                if d is None:
                    continue
                dst = target or ("png" if fmt != "png" else "bmp")
                px, w, h = d["pixels"], d["width"], d["height"]
                out = _TRANSCODE_ENC[dst](w, h, lambda x, y: px[y][x])
                rows.append(
                    {
                        "media_id": int(mid),
                        "src_format": fmt,
                        "dst_format": dst,
                        "width": w,
                        "height": h,
                        "src_bytes": len(raw),
                        "dst_bytes": len(out),
                        "payload": out,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "src_format",
                    "dst_format",
                    "width",
                    "height",
                    "src_bytes",
                    "dst_bytes",
                    "payload",
                ],
            )

    return media.mapInPandas(run, schema=TRANSCODE_SCHEMA)


def resize_media(media: DataFrame, target_w: int = 64, target_h: int = 64) -> DataFrame:
    """Resize: every REALLY-decoded format gets a REAL nearest-neighbor
    resample re-encoded as a valid file of the SAME format — BMP/PNG to
    the target pixel dimensions, each AVI frame likewise, WAV resampled
    to target_w x target_h samples (the pixel budget, the audio analog
    of a thumbnail). Other formats (JPEG, MP4, ...) keep the
    deterministic fake transform (payload truncated/tiled to the pixel
    budget). Same mapInPandas dataflow either way — a real deployment
    swaps only the fallback for PIL.Image.resize / soxr / pyav."""

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                d, fmt = decode_image(raw)
                wv = decode_wav(raw) if d is None else None
                av = decode_avi(raw) if d is None and wv is None else None
                if d is not None:
                    px, sw, sh = d["pixels"], d["width"], d["height"]
                    enc = make_png if fmt == "png" else make_bmp
                    resized = enc(
                        target_w,
                        target_h,
                        lambda x, y: px[y * sh // target_h][x * sw // target_w],
                    )
                elif wv is not None:
                    s = wv["samples"]
                    budget = target_w * target_h
                    resized = make_wav(
                        [s[i * len(s) // budget] for i in range(budget)],
                        sample_rate=wv["sample_rate"],
                    )
                elif av is not None:
                    sw, sh = av["width"], av["height"]

                    def frame_fn(px):
                        return lambda x, y: px[y * sh // target_h][
                            x * sw // target_w
                        ]

                    resized = make_avi(
                        target_w,
                        target_h,
                        [frame_fn(px) for px in av["frames"]],
                    )
                else:
                    budget = target_w * target_h
                    resized = (raw * (budget // max(len(raw), 1) + 1))[:budget]
                rows.append(
                    {
                        "media_id": int(mid),
                        "kind": kind,
                        "width": target_w,
                        "height": target_h,
                        "payload": resized,
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def sample_frames(media: DataFrame, frame_size: int = 32, every_k: int = 4) -> DataFrame:
    """Frame sampling for video payloads (one-to-many mapInPandas — the
    UDTF shape): AVI payloads are REALLY demuxed — every k-th '00db'
    DIB frame is emitted with its true byte length and the md5 of its
    actual frame buffer. Other payloads (MP4 included) keep the labeled
    stub (fixed-size chunking), which a real deployment replaces with
    pyav; ``frame_size`` only applies to that fallback."""
    import hashlib

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind != "video" or payload is None:
                    continue
                raw = bytes(payload)
                av = decode_avi(raw)
                if av is not None:
                    for i in range(0, av["n_frames"], every_k):
                        frame = av["raw_frames"][i]
                        rows.append(
                            {
                                "media_id": int(mid),
                                "frame_idx": i,
                                "frame_bytes": len(frame),
                                "frame_md5": hashlib.md5(frame).hexdigest(),
                            }
                        )
                    continue
                n_frames = max(len(raw) // frame_size, 1)
                for i in range(0, n_frames, every_k):
                    chunk = raw[i * frame_size : (i + 1) * frame_size]
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": i,
                            "frame_bytes": len(chunk),
                            "frame_md5": hashlib.md5(chunk).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "frame_bytes", "frame_md5"],
            )

    return media.mapInPandas(run, schema=FRAMES_SCHEMA)
