"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched `mapInPandas`.

Image METADATA decode is REAL for all four formats: width/height/channels
are byte-parsed from the container headers (PNG IHDR, GIF logical-screen
descriptor, JPEG SOFn, BMP info header) with the stdlib only — no
PIL/libvips needed. PIXEL decode is real where the stdlib can get at the
pixels: PNG (zlib inflate + per-row unfilter, 8-bit gray/RGB/alpha,
non-interlaced) and uncompressed 24/32-bpp BMP — for those, `mean_luma` is
the true Rec.601 luma and `luma_src` reports "pixel". JPEG/GIF entropy
decoding still needs an image library, so their `mean_luma` falls back to
a deterministic payload-byte proxy (`luma_src` = "proxy"; swap-in point:
`decode_image_header`). Everything Spark-side — the schema contract, batch
shape, partitioning, and the UDF signatures — is real and tested.

Scale: decode is map-only (no shuffle); binary payloads ride Arrow buffers
zero-copy. For very large payloads set spark.sql.files.maxPartitionBytes
down so one task's Arrow batch fits executor memory, and prefer
`spark.sql.execution.arrow.maxRecordsPerBatch` tuning over repartitioning.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, "
    "meta map<string,string>"
)

DECODED_IMAGE_SCHEMA = (
    "media_id string, width int, height int, n_channels int, "
    "mean_luma double, decode_ok boolean, luma_src string"
)

# PNG color type -> sample channels (grayscale, rgb, palette, gray+alpha, rgba)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(payload: bytes) -> tuple[int, int, int] | None:
    """(width, height, n_channels) from PNG/GIF/JPEG/BMP container bytes.

    Pure-stdlib byte slicing — the header formats are public and fixed:
    PNG IHDR (big-endian u32 dims at offset 16, color type at 25), GIF
    logical screen (little-endian u16 at 6), JPEG SOFn segment walk, BMP
    BITMAPINFOHEADER (little-endian i32 at 18). Returns None when the
    payload is not a recognized image container."""
    if payload is None or len(payload) < 24:
        return None
    b = bytes(payload)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        color_type = b[25] if len(b) > 25 else 2
        return (w, h, _PNG_CHANNELS.get(color_type, 3))
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return (w, h, 3)
    if b[:2] == b"\xff\xd8":  # JPEG: walk segments to a SOFn frame header
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                return None
            # 0xFF is also a legal fill/padding byte before a marker —
            # skip the run instead of misreading a bogus segment length
            while i + 1 < len(b) and b[i + 1] == 0xFF:
                i += 1
            if i + 9 >= len(b):
                return None
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker in (0xDA, 0xD9):
                # SOS starts entropy-coded data (no segment table past it)
                # and EOI ends the stream: no SOFn was seen — stop cleanly
                return None
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                n_comp = b[i + 9]
                return (w, h, n_comp)
            i += 2 + seg_len
        return None
    if b[:2] == b"BM" and len(b) >= 30:
        w, h = struct.unpack("<ii", b[18:26])
        bpp = struct.unpack("<H", b[28:30])[0]
        return (w, abs(h), max(bpp // 8, 1))
    return None


def _payload_luma(b: bytes) -> float:
    """Deterministic luma proxy: mean payload byte / 255 (used only for
    formats whose pixels need an image lib to reach — JPEG/GIF)."""
    if not b:
        return 0.0
    return round(sum(b) / len(b) / 255.0, 6)


# Rec.601 luma weights for R, G, B
_LUMA_W = (0.299, 0.587, 0.114)


def _pixels_luma(px, n_channels: int) -> float:
    """Mean Rec.601 luma in [0, 1] over an (h, w*ch) uint8 pixel array."""
    import numpy as np

    a = px.astype(np.float64).reshape(px.shape[0], -1, n_channels)
    if n_channels >= 3:
        y = a[:, :, 0] * _LUMA_W[0] + a[:, :, 1] * _LUMA_W[1] + a[:, :, 2] * _LUMA_W[2]
    else:  # gray or gray+alpha: channel 0 IS the luma
        y = a[:, :, 0]
    return round(float(y.mean()) / 255.0, 6)


def _png_unfilter(raw: bytes, h: int, w: int, ch: int):
    """Reverse PNG scanline filters (types 0-4) -> (h, w*ch) uint8 array.

    Up/None rows are vectorized; Sub/Average/Paeth carry a per-pixel
    left-neighbor dependency, so those rows run a Python loop — fine for
    metadata-scale decode; a production pixel pipeline would swap this
    module's decode for an image lib at the documented swap-in point."""
    import numpy as np

    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos : pos + stride], dtype=np.uint8).astype(np.int32)
        pos += stride
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):
            cur = np.empty(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b_ = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                if ft == 1:  # Sub
                    pred = a
                elif ft == 3:  # Average
                    pred = (a + b_) // 2
                else:  # Paeth
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
    return out


def decode_png_pixels(b: bytes) -> tuple[int, int, int, float] | None:
    """Real PNG pixel decode with stdlib zlib: (w, h, channels, mean_luma),
    or None when the payload isn't a decodable PNG (missing IDAT, palette,
    16-bit, or interlaced images fall back to the header+proxy path)."""
    if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    idat: list[bytes] = []
    ihdr = None
    i = 8
    while i + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[i : i + 4])
        ctype = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + clen]
        if len(data) < clen:
            return None
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        i += 12 + clen  # len + type + data + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h = struct.unpack(">II", ihdr[:8])
    depth, color_type, comp, filt, interlace = ihdr[8:13]
    ch = _PNG_CHANNELS.get(color_type)
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0 or color_type == 3 or ch is None:
        return None  # palette/16-bit/interlaced: header+proxy fallback
    # IHDR tells us the exact decompressed size up front; bound the inflate
    # to it so a crafted decompression bomb inside an untrusted media
    # payload can't exhaust executor memory inside mapInPandas (round-4
    # advice). The dimension cap (256 MiB of raw scanlines) bounds the
    # decompress AND unfilter allocations for absurd-header payloads.
    expected = h * (1 + w * ch)
    if w == 0 or h == 0 or expected > (1 << 28):
        return None
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expected + 1)
    except zlib.error:
        return None
    if len(raw) != expected:  # expected+1 == bomb; shorter == truncated
        return None
    px = _png_unfilter(raw, h, w, ch)
    return (w, h, ch, _pixels_luma(px, ch))


def decode_bmp_pixels(b: bytes) -> tuple[int, int, int, float] | None:
    """Real BMP pixel decode (uncompressed 24/32-bpp BITMAPINFOHEADER):
    (w, h, channels, mean_luma), or None for other/compressed variants."""
    import numpy as np

    if len(b) < 54 or b[:2] != b"BM":
        return None
    (data_off,) = struct.unpack("<I", b[10:14])
    w, h_signed = struct.unpack("<ii", b[18:26])
    (bpp,) = struct.unpack("<H", b[28:30])
    (compression,) = struct.unpack("<I", b[30:34])
    if compression != 0 or bpp not in (24, 32) or w <= 0 or h_signed == 0:
        return None
    h = abs(h_signed)
    ch = bpp // 8
    row_bytes = (w * ch + 3) & ~3  # rows padded to 4 bytes
    if data_off + row_bytes * h > len(b):
        return None
    rows = np.frombuffer(
        b[data_off : data_off + row_bytes * h], dtype=np.uint8
    ).reshape(h, row_bytes)[:, : w * ch]
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    # BMP stores BGR(A): reorder to RGB for the shared luma helper
    px = rows.reshape(h, w, ch)[:, :, [2, 1, 0] + ([3] if ch == 4 else [])]
    return (w, h, ch, _pixels_luma(px.reshape(h, w * ch), ch))


def decode_image_header(payload: bytes) -> tuple[int, int, int, float, bool, str]:
    """(width, height, channels, mean_luma, ok, luma_src). Pixel decode
    (luma_src="pixel") where the stdlib reaches the pixels — PNG, plain
    BMP; header parse + payload-proxy luma (luma_src="proxy") otherwise.
    This is the swap-in point for a real image lib: replace the proxy
    branch with a PIL/libvips decode and luma_src stays honest."""
    if payload is None:
        return (0, 0, 0, 0.0, False, "none")
    b = bytes(payload)
    for pixel_decode in (decode_png_pixels, decode_bmp_pixels):
        got = pixel_decode(b)
        if got is not None:
            w, h, ch, luma = got
            return (w, h, ch, luma, True, "pixel")
    parsed = parse_image_header(b)
    if parsed is None:
        return (0, 0, 0, 0.0, False, "none")
    w, h, ch = parsed
    return (w, h, ch, _payload_luma(b), True, "proxy")


def decode_images(media: DataFrame) -> DataFrame:
    """media(media_id, payload, ...) -> typed image metadata rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            decoded = [decode_image_header(p) for p in b["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_channels": [d[2] for d in decoded],
                    "mean_luma": [d[3] for d in decoded],
                    "decode_ok": [d[4] for d in decoded],
                    "luma_src": [d[5] for d in decoded],
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, DECODED_IMAGE_SCHEMA)


def make_png_bytes(width: int, height: int, pixels, filter_type: int = 0) -> bytes:
    """Encode a REAL 8-bit RGB PNG (stdlib only) from an (h, w, 3) uint8
    array, applying the given scanline filter to every row — lets tests
    exercise each unfilter branch against known pixel values."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8).reshape(height, width * 3).astype(np.int32)
    lines = []
    for y in range(height):
        cur, prev = px[y], (px[y - 1] if y else np.zeros(width * 3, np.int32))
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:  # Sub
            left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
            enc = (cur - left) & 0xFF
        elif filter_type == 2:  # Up
            enc = (cur - prev) & 0xFF
        elif filter_type == 3:  # Average
            left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
            enc = (cur - (left + prev) // 2) & 0xFF
        elif filter_type == 4:  # Paeth
            left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
            ul = np.concatenate([np.zeros(3, np.int32), prev[:-3]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = (cur - pred) & 0xFF
        else:
            raise ValueError(filter_type)
        lines.append(bytes([filter_type]) + enc.astype(np.uint8).tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">II", width, height) + bytes([8, 2, 0, 0, 0])
    idat = zlib.compress(b"".join(lines))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def make_bmp_bytes(width: int, height: int, pixels) -> bytes:
    """Encode a REAL uncompressed 24-bpp bottom-up BMP from an (h, w, 3)
    RGB uint8 array (stdlib only)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8).reshape(height, width, 3)
    row_bytes = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_bytes - width * 3)
    body = b"".join(
        px[y][:, [2, 1, 0]].tobytes() + pad for y in range(height - 1, -1, -1)
    )  # bottom-up rows, RGB -> BGR
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 0, 0, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    return header + info + body


def make_image_bytes(fmt: str, width: int, height: int, filler: bytes = b"") -> bytes:
    """Minimal valid-header image bytes for tests (PNG/GIF/JPEG/BMP)."""
    if fmt == "png":
        ihdr = struct.pack(">II", width, height) + bytes([8, 2, 0, 0, 0])
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + ihdr
            + filler
        )
    if fmt == "gif":
        return b"GIF89a" + struct.pack("<HH", width, height) + filler
    if fmt == "jpeg":
        sof0 = b"\xff\xc0" + struct.pack(">H", 8 + 3 * 3) + bytes([8]) + struct.pack(
            ">HH", height, width
        ) + bytes([3])
        return b"\xff\xd8" + sof0 + filler
    if fmt == "bmp":
        info = struct.pack("<I", 40) + struct.pack("<ii", width, height) + struct.pack(
            "<HH", 1, 24
        )
        return b"BM" + b"\x00" * 12 + info + filler
    raise ValueError(fmt)


def gen_media_fixture(spark, n: int = 50) -> DataFrame:
    """Deterministic binary-payload fixture: REAL pixel images for the
    stdlib-decodable formats (PNG/BMP carry a full deterministic gradient
    bitmap), real headers for the rest (GIF/JPEG), plus videos."""
    import numpy as np

    fmts = ["png", "gif", "jpeg", "bmp"]
    rows = []
    for i in range(n):
        kind = "image" if i % 3 else "video"
        filler = hashlib.sha256(f"media{i}".encode()).digest() * 4
        if kind == "image":
            fmt = fmts[i % 4]
            w, h = 64 + 8 * (i % 50), 64 + 8 * ((i * 7) % 50)
            if fmt in ("png", "bmp"):
                px = (
                    np.arange(h * w * 3, dtype=np.int64) * (i + 7) % 256
                ).astype(np.uint8).reshape(h, w, 3)
                payload = (
                    make_png_bytes(w, h, px, filter_type=i % 5)
                    if fmt == "png"
                    else make_bmp_bytes(w, h, px)
                )
            else:
                payload = make_image_bytes(fmt, w, h, filler)
            mime = f"image/{fmt}"
            meta = {"fmt": fmt}
        else:
            payload = filler
            mime = "application/x-video"
            meta = {"duration_s": str(2 + i % 5)}
        rows.append((f"m{i:04d}", kind, payload, mime, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
