"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio CODEC libraries, but pure Python covers
five REAL container decoders (each verified value-for-value against a SQL
oracle recomputing the generative formulas):

- audio: genuine RIFF/WAVE PCM16 via ``wave`` (r09, VERDICT r08 next #5) —
  header fields + frame bytes parsed into peak / energy / zero crossings;
- image, uncompressed: genuine 24-bit BMP via ``struct`` (r09) — bottom-up
  BGR rows + padding reconstructed to logical top-down RGB;
- image, COMPRESSED lossless: genuine PNG via ``zlib`` + ``struct``
  (r10, VERDICT r09 next #8) — chunk CRC-32s verified, IDAT inflated,
  all five row filters (None/Sub/Up/Average/Paeth) reversed;
- image, COMPRESSED LOSSY: genuine baseline JPEG via pure Python
  (r10 stretch) — marker walk, canonical Huffman tables built from DHT,
  DC-prediction + AC run-length entropy decoding with byte unstuffing,
  dequantization, full 2D IDCT.  The generative content is constant per
  8x8 block (DC-only), the subset of a lossy codec whose round-trip is
  exact, so even THIS decode is value-oracled;
- video: genuine uncompressed AVI via ``struct`` (r10) — RIFF chunk-tree
  walk (hdrl/avih geometry, strf pixel format, movi frame stream), raw
  bottom-up-BGR 'DIB ' frames reconstructed per frame.  Uncompressed
  video needs no codec, so the last marked fake on this surface closes.

Inter-frame CODECS (H.264 etc.) remain out of scope for pure Python —
swapping in ffmpeg later changes only the decode internals; the
`_fake_decode_features` byte-histogram path survives solely as the
plumbing twin (`media_features_meta`, real_media=False).  The Spark-side
plumbing (schema, batch iteration, partition-parallel UDF shape) is
identical for fake and real paths.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_id long, kind string, payload binary, width int, height int, n_frames int"

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, checksum long, feat array<float>"

#: extended surface when real decode is on: audio rows carry sample-level
#: features, image rows pixel-level ones; other kinds carry NULLs there
DECODED_FEATURE_SCHEMA = (
    FEATURE_SCHEMA
    + ", n_samples long, peak long, sumsq long, zero_cross long"
    + ", img_w long, img_h long, sum_rgb long, pix_peak long"
    + ", vid_frames long"
)

WAV_SAMPLE_RATE = 8000


def _wav_n_samples(media_id: int) -> int:
    """Deterministic per-id sample count (SQL-reproducible)."""
    return 160 + media_id % 101


def _wav_sample(media_id: int, i: int) -> int:
    """Deterministic int16 waveform — NON-recursive in ``i`` so a SQL
    oracle can recompute any sample directly from (media_id, i)."""
    return ((media_id * 40503 + i * 2654435761) % 65536) - 32768


def _encode_wav(media_id: int) -> bytes:
    """A genuine RIFF/WAVE PCM16 mono container (44-byte header + frames)
    written by the stdlib ``wave`` module — not a fake: any WAV reader
    decodes it."""
    n = _wav_n_samples(media_id)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(
            struct.pack(f"<{n}h", *(_wav_sample(media_id, i) for i in range(n)))
        )
    return buf.getvalue()


def _decode_wav_features(payload: bytes) -> tuple[int, int, int, int, int]:
    """REAL DECODE: parse the RIFF/WAVE container (header fields + PCM16
    frames) and fold sample-level features.  Returns (n_samples, peak,
    sumsq, zero_cross, checksum) — checksum is the sum of unsigned 16-bit
    sample words mod 2^31, so one flipped byte anywhere in the encode ->
    Arrow transfer -> decode chain goes red against the SQL oracle."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("expected PCM16 mono WAV")
        n = w.getnframes()
        samples = struct.unpack(f"<{n}h", w.readframes(n))
    peak = max((abs(s) for s in samples), default=0)
    sumsq = sum(s * s for s in samples)
    zero_cross = sum(
        1 for a, b in zip(samples, samples[1:]) if (a >= 0) != (b >= 0)
    )
    checksum = sum(s & 0xFFFF for s in samples) % (1 << 31)
    return n, peak, sumsq, zero_cross, checksum


def _bmp_dims(media_id: int) -> tuple[int, int]:
    """Deterministic per-id image dimensions (SQL-reproducible)."""
    return 8 + media_id % 9, 8 + media_id % 7


def _bmp_pix(media_id: int, i: int) -> int:
    """Deterministic channel byte for linear index i = (y*W + x)*3 + c in
    TOP-DOWN row order with RGB channel order — NON-recursive so a SQL
    oracle recomputes any byte directly from (media_id, i)."""
    return (media_id * 40503 + i * 2654435761) % 256


def _encode_bmp(media_id: int) -> bytes:
    """A genuine uncompressed 24-bit BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER + bottom-up BGR pixel rows with 4-byte row padding)
    written with stdlib ``struct`` — any BMP reader decodes it.  The
    bottom-up storage and BGR byte order are the container's real quirks:
    a decoder that ignores either flips the position-weighted checksum."""
    w, h = _bmp_dims(media_id)
    row_pad = (4 - (w * 3) % 4) % 4
    rows = []
    for y_top in range(h - 1, -1, -1):  # BMP stores rows bottom-up
        row = bytearray()
        for x in range(w):
            base = (y_top * w + x) * 3
            r = _bmp_pix(media_id, base)
            g = _bmp_pix(media_id, base + 1)
            b = _bmp_pix(media_id, base + 2)
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * row_pad
        rows.append(bytes(row))
    data = b"".join(rows)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + info + data


def _decode_bmp_features(payload: bytes) -> tuple[int, int, int, int, int]:
    """REAL DECODE: parse the BMP headers and pixel array (bottom-up rows,
    BGR channels, row padding) back into logical top-down RGB and fold
    pixel-level features.  Returns (img_w, img_h, sum_rgb, pix_peak,
    checksum); checksum position-weights every channel byte by its
    logical index, so a row-order or channel-order mistake — not just a
    value flip — goes red against the SQL oracle."""
    magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    _hsz, w, h, _planes, bpp, comp, _imgsz = struct.unpack_from(
        "<IiiHHII", payload, 14
    )
    if bpp != 24 or comp != 0:
        raise ValueError("expected uncompressed 24-bit BMP")
    stride = (w * 3 + 3) // 4 * 4
    sum_rgb = 0
    peak = 0
    checksum = 0
    for r in range(h):
        y_top = h - 1 - r
        row_off = offset + r * stride
        for x in range(w):
            o = row_off + x * 3
            bgr = payload[o : o + 3]
            base = (y_top * w + x) * 3
            for c, v in ((0, bgr[2]), (1, bgr[1]), (2, bgr[0])):  # back to RGB
                sum_rgb += v
                if v > peak:
                    peak = v
                checksum += (base + c + 1) * v
    return w, h, sum_rgb, peak, checksum % (1 << 31)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6) — shared by the filter-4
    encode and decode paths."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _encode_png(media_id: int) -> bytes:
    """A genuine COMPRESSED PNG (VERDICT r09 next #8): 8-bit truecolor,
    zlib-deflated scanlines, CRC-32 per chunk — pure stdlib
    (``zlib`` + ``struct``), no codec library.  The same generative
    pixels as the BMP twin (:func:`_bmp_pix`, top-down RGB), but the
    row filter CYCLES through all five PNG filter types (None / Sub /
    Up / Average / Paeth, type = y % 5), so a decoder that skips
    unfiltering — or gets any predictor wrong — cannot reproduce the
    position-weighted checksum.  Any PNG reader decodes these files."""
    w, h = _bmp_dims(media_id)
    stride = w * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = bytes(
            _bmp_pix(media_id, (y * w + x) * 3 + c)
            for x in range(w)
            for c in range(3)
        )
        f = y % 5
        raw.append(f)
        if f == 0:  # None
            raw += row
        elif f == 1:  # Sub
            raw += bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(stride)
            )
        elif f == 2:  # Up
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:  # Average
            raw += bytes(
                (row[i] - ((row[i - 3] if i >= 3 else 0) + prev[i]) // 2)
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png_pixels(payload: bytes) -> tuple[int, int, bytearray, int]:
    """REAL COMPRESSED DECODE to the raster: walk the chunk stream
    (verifying each CRC-32), inflate the IDAT zlib stream, and reverse
    the per-row filter (all five types).  Returns (w, h, rgb, n_inflated)
    with ``rgb`` the reconstructed top-down RGB bytes and ``n_inflated``
    = h*(1 + 3w), the exact inflated scanline size — a decode proof in
    itself (a corrupt or truncated deflate stream cannot inflate to it)
    that, unlike the compressed container length, an SQL oracle
    reproduces from (w, h) alone."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    off = 8
    idat = b""
    w = h = None
    while off + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, off)
        tag = payload[off + 4 : off + 8]
        data = payload[off + 8 : off + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, off + 8 + ln)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctype, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise ValueError("expected 8-bit truecolor non-interlaced PNG")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        off += 12 + ln
    if w is None:
        raise ValueError("PNG without IHDR")
    raw = zlib.decompress(idat)
    stride = w * 3
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"inflated size {len(raw)} != expected {h * (1 + stride)}"
        )
    prev = bytes(stride)
    pos = 0
    rgb = bytearray()
    for y in range(h):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 1:  # Sub
            for i in range(stride):
                line[i] = (line[i] + (line[i - 3] if i >= 3 else 0)) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                line[i] = (
                    line[i] + ((line[i - 3] if i >= 3 else 0) + prev[i]) // 2
                ) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                line[i] = (
                    line[i]
                    + _paeth(
                        line[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                ) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter type {f}")
        prev = bytes(line)
        rgb += prev
    return w, h, rgb, len(raw)


def _decode_png_features(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """:func:`_decode_png_pixels` folded into the SAME position-weighted
    features as the BMP decoder: (img_w, img_h, sum_rgb, pix_peak,
    checksum, n_inflated)."""
    w, h, rgb, n_inflated = _decode_png_pixels(payload)
    sum_rgb = 0
    peak = 0
    checksum = 0
    for i, v in enumerate(rgb):
        sum_rgb += v
        if v > peak:
            peak = v
        checksum += (i + 1) * v
    return w, h, sum_rgb, peak, checksum % (1 << 31), n_inflated


def _jpeg_dims(media_id: int) -> tuple[int, int]:
    """Deterministic per-id JPEG dimensions, multiples of 8 so every MCU
    is a full block (SQL-reproducible)."""
    return 8 * (2 + media_id % 5), 8 * (2 + media_id % 3)


def _jpeg_block_val(media_id: int, b: int) -> int:
    """Deterministic gray value of 8x8 block ``b`` (raster order) — the
    generative formula the SQL oracle recomputes.  Pixels are CONSTANT
    within each block: the FDCT of a constant block is DC-only (all AC
    exactly zero), which is the subset of baseline JPEG whose lossy
    round-trip is EXACT (DC quant 8 divides DC = 8*(v-128) evenly), so a
    value oracle can pin a genuinely lossy codec bit-for-bit."""
    return (media_id * 40503 + b * 2654435761) % 256


#: minimal VALID Huffman tables (canonical form): DC categories 0..11 all
#: at code length 4 (12 of 16 slots used); AC just the EOB symbol at
#: length 1.  A spec-conforming decoder reads these like any DHT.
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [1] + [0] * 15
_JPEG_AC_VALS = [0x00]

#: standard JPEG zigzag order: zigzag index -> (row, col)
_JPEG_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]


class _JpegBitWriter:
    """MSB-first bit accumulator with the spec's 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        while self.n:
            self.write(1, 1)  # pad with 1-bits per the spec
        return bytes(self.buf)


def _encode_jpeg(media_id: int) -> bytes:
    """A genuine BASELINE JPEG (r10 stretch past VERDICT r09 next #8):
    SOI/DQT/SOF0/DHT/SOS marker stream, canonical Huffman tables,
    DC-difference entropy coding with byte stuffing — pure stdlib.
    Grayscale, one component, quant table {DC: 8, AC: 1}; per-block
    constant pixels (:func:`_jpeg_block_val`) make the DC coefficient
    8*(v-128), exactly divisible by the quant step, and every AC
    coefficient exactly zero — so THIS content round-trips losslessly
    through a lossy codec and stays value-oracle-able.  Any baseline
    JPEG reader decodes these files."""
    w, h = _jpeg_dims(media_id)
    bw, bh = w // 8, h // 8

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dqt = bytes([0x00]) + bytes([8] + [1] * 63)  # zigzag slot 0 = DC
    sof = (
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    wtr = _JpegBitWriter()
    pred = 0
    for b in range(bw * bh):
        dcq = _jpeg_block_val(media_id, b) - 128  # DC=8c, q00=8 -> DC_q=c
        diff = dcq - pred
        pred = dcq
        t = abs(diff).bit_length()
        wtr.write(t, 4)  # canonical DC code for category t IS t at len 4
        if t:
            bits = diff if diff >= 0 else diff + (1 << t) - 1
            wtr.write(bits & ((1 << t) - 1), t)
        wtr.write(0, 1)  # EOB (canonical AC code 0 at length 1)
    return (
        b"\xff\xd8" + seg(0xDB, dqt) + seg(0xC0, sof) + seg(0xC4, dht_dc)
        + seg(0xC4, dht_ac) + seg(0xDA, sos) + wtr.flush() + b"\xff\xd9"
    )


class _JpegBitReader:
    """MSB-first bit reader with 0xFF00 unstuffing; a bare marker inside
    the entropy stream raises."""

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.i = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            b = self.d[self.i]
            self.i += 1
            if b == 0xFF:
                if self.i < len(self.d) and self.d[self.i] == 0x00:
                    self.i += 1
                else:
                    raise ValueError("marker inside entropy stream")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, t: int) -> int:
        v = 0
        for _ in range(t):
            v = (v << 1) | self.bit()
        return v


def _jpeg_huff_decode(r: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code")


def _decode_jpeg_pixels(payload: bytes):
    """REAL LOSSY-CODEC DECODE to the pixel plane: a general baseline
    grayscale JPEG decoder — marker walk, canonical Huffman table
    construction from DHT, DC-prediction + AC run-length entropy
    decoding (EOB/ZRL), dequantization through the zigzag order, full
    2D IDCT (numpy basis matmul), level shift + clamp.  Nothing here
    assumes the DC-only content :func:`_encode_jpeg` produces; that
    content is what makes the ORACLE exact, not what the decoder
    requires.  Returns (w, h, flat) with ``flat`` the int64 numpy
    row-major gray plane."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    w = h = None
    tq0 = 0
    cdc = cac = 0
    scan = b""
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        m = payload[pos + 1]
        if m == 0xD9:
            break
        ln = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        data = payload[pos + 4 : pos + 2 + ln]
        if m == 0xDB:
            i = 0
            while i < len(data):
                if data[i] >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                qt[data[i] & 15] = list(data[i + 1 : i + 65])
                i += 65
        elif m == 0xC0:
            prec = data[0]
            h = int.from_bytes(data[1:3], "big")
            w = int.from_bytes(data[3:5], "big")
            if prec != 8 or data[5] != 1 or data[7] != 0x11:
                raise ValueError(
                    "expected 8-bit single-component baseline JPEG"
                )
            tq0 = data[8]
        elif m == 0xC4:
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                counts = data[i + 1 : i + 17]
                vals = data[i + 17 : i + 17 + sum(counts)]
                table: dict = {}
                code = 0
                vi = 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = vals[vi]
                        vi += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
                i += 17 + sum(counts)
        elif m == 0xDA:
            cdc, cac = data[2] >> 4, data[2] & 15
            scan = payload[pos + 2 + ln :]
            break
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG unsupported")
        pos += 2 + ln
    if w is None or not scan:
        raise ValueError("JPEG without SOF0/SOS")
    q = qt[tq0]
    dc_tab, ac_tab = huff[(0, cdc)], huff[(1, cac)]
    # IDCT basis: A[u, x] = 0.5 * C(u) * cos((2x+1) u pi / 16)
    u = np.arange(8)
    A = 0.5 * np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16)
    A[0, :] *= 1 / np.sqrt(2)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    r = _JpegBitReader(scan)
    pred = 0
    arr = np.zeros((bh * 8, bw * 8))
    for bi in range(bw * bh):
        t = _jpeg_huff_decode(r, dc_tab)
        diff = 0
        if t:
            v = r.bits(t)
            diff = v if v >= (1 << (t - 1)) else v - (1 << t) + 1
        pred += diff
        coef = np.zeros((8, 8))
        coef[0, 0] = pred * q[0]
        k = 1
        while k < 64:
            s = _jpeg_huff_decode(r, ac_tab)
            if s == 0x00:
                break  # EOB
            if s == 0xF0:
                k += 16  # ZRL: 16 zeros
                continue
            run, size = s >> 4, s & 15
            k += run
            v = r.bits(size)
            v = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
            coef[_JPEG_ZIGZAG[k]] = v * q[k]
            k += 1
        by, bx = divmod(bi, bw)
        arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = A.T @ coef @ A
    pix = np.clip(np.rint(arr + 128), 0, 255).astype(np.int64)[:h, :w]
    return w, h, pix.ravel()


def _decode_jpeg_features(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """:func:`_decode_jpeg_pixels` folded to the same pixel features as
    the other image containers: (img_w, img_h, sum_gray, pix_peak,
    checksum, n_bytes) with n_bytes = w*h decoded samples (the
    SQL-reproducible size for a lossy container)."""
    import numpy as np

    w, h, flat = _decode_jpeg_pixels(payload)
    checksum = int(
        ((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum() % (1 << 31)
    )
    return w, h, int(flat.sum()), int(flat.max()), checksum, w * h


AVI_FRAME_W = 16
AVI_FRAME_H = 8


def _avi_n_frames(media_id: int) -> int:
    """Deterministic per-id frame count (SQL-reproducible)."""
    return 2 + media_id % 5


def _avi_pix(media_id: int, j: int) -> int:
    """Deterministic channel byte for GLOBAL linear index
    j = frame*(W*H*3) + (y*W + x)*3 + c (top-down RGB within each frame)
    — NON-recursive so a SQL oracle recomputes any byte from
    (media_id, j)."""
    return (media_id * 40503 + j * 2654435761) % 256


def _avi_frame_dib(media_id: int, f: int) -> bytes:
    """One frame as a bottom-up BGR DIB pixel array (the uncompressed
    'DIB ' stream format AVI carries) — same container quirks as BMP."""
    w, h = AVI_FRAME_W, AVI_FRAME_H
    row_pad = (4 - (w * 3) % 4) % 4
    base_f = f * w * h * 3
    rows = []
    for y_top in range(h - 1, -1, -1):  # bottom-up rows on disk
        row = bytearray()
        for x in range(w):
            base = base_f + (y_top * w + x) * 3
            r = _avi_pix(media_id, base)
            g = _avi_pix(media_id, base + 1)
            b = _avi_pix(media_id, base + 2)
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * row_pad
        rows.append(bytes(row))
    return b"".join(rows)


def _encode_avi(media_id: int) -> bytes:
    """A genuine uncompressed AVI (r10: the video path's marked fake
    replaced by a REAL container): RIFF('AVI ') with the full
    hdrl(avih + strl(strh 'vids'/'DIB ' + strf BITMAPINFOHEADER))
    header tree, a movi LIST of raw bottom-up-BGR '00db' frame chunks,
    and an idx1 index — pure stdlib ``struct``.  Uncompressed 'DIB '
    video needs no codec (the same reason BMP/WAV could be real), so any
    AVI reader plays these files.  Inter-frame CODECS (H.264 etc.)
    remain out of scope for a stdlib container."""
    w, h = AVI_FRAME_W, AVI_FRAME_H
    n = _avi_n_frames(media_id)
    stride = (w * 3 + 3) // 4 * 4
    fsz = stride * h

    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return tag + len(data).to_bytes(4, "little") + data + pad

    def lst(tag: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", tag + data)

    avih = struct.pack(
        "<14I", 40000, 0, 0, 0x10, n, 0, 1, fsz, w, h, 0, 0, 0, 0
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, 25, 0, n, fsz, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, fsz, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    frames = [chunk(b"00db", _avi_frame_dib(media_id, f)) for f in range(n)]
    movi = lst(b"movi", b"".join(frames))
    idx = b"".join(
        b"00db"
        + (0x10).to_bytes(4, "little")
        + (4 + i * (8 + fsz)).to_bytes(4, "little")
        + fsz.to_bytes(4, "little")
        for i in range(n)
    )
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _decode_avi_features(
    payload: bytes,
) -> tuple[int, int, int, int, int, int, int]:
    """REAL DECODE: walk the RIFF chunk tree (hdrl/avih for the declared
    geometry, strf for the pixel format, movi for the frame stream),
    reconstruct each bottom-up BGR frame to logical top-down RGB, and
    fold frame-level features.  Returns (img_w, img_h, sum_rgb,
    pix_peak, checksum, n_bytes, vid_frames); checksum position-weights
    every channel byte by its GLOBAL (frame, pixel, channel) index, so a
    frame-order, row-order, or channel-order mistake goes red against
    the SQL oracle; n_bytes = decoded sample count n*W*H*3."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    pos = 12
    end = 8 + int.from_bytes(payload[4:8], "little")
    w = h = n_decl = None
    bpp = comp = None
    frames: list[bytes] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal w, h, n_decl, bpp, comp
        p = lo
        while p + 8 <= hi:
            tag = payload[p : p + 4]
            ln = int.from_bytes(payload[p + 4 : p + 8], "little")
            data_lo, data_hi = p + 8, p + 8 + ln
            if tag == b"LIST":
                walk(data_lo + 4, data_hi)  # skip the list-type fourcc
            elif tag == b"avih":
                flds = struct.unpack_from("<14I", payload, data_lo)
                n_decl, w, h = flds[4], flds[8], flds[9]
            elif tag == b"strf":
                _sz, _w, _h, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, data_lo
                )
            elif tag == b"00db":
                frames.append(payload[data_lo:data_hi])
            p = data_hi + (ln % 2)  # chunks are word-aligned

    walk(pos, min(end, len(payload)))
    if w is None or bpp is None:
        raise ValueError("AVI without avih/strf headers")
    if bpp != 24 or comp != 0:
        raise ValueError("expected uncompressed 24-bit DIB video")
    if len(frames) != n_decl:
        raise ValueError(
            f"frame count mismatch: header {n_decl}, stream {len(frames)}"
        )
    stride = (w * 3 + 3) // 4 * 4
    sum_rgb = 0
    peak = 0
    checksum = 0
    for f, dib in enumerate(frames):
        if len(dib) != stride * h:
            raise ValueError("bad frame size")
        base_f = f * w * h * 3
        for r in range(h):
            y_top = h - 1 - r
            row_off = r * stride
            for x in range(w):
                o = row_off + x * 3
                bgr = dib[o : o + 3]
                base = base_f + (y_top * w + x) * 3
                for c, v in ((0, bgr[2]), (1, bgr[1]), (2, bgr[0])):
                    sum_rgb += v
                    if v > peak:
                        peak = v
                    checksum += (base + c + 1) * v
    return (
        w, h, sum_rgb, peak, checksum % (1 << 31),
        len(frames) * w * h * 3, len(frames),
    )


def _decode_image_features(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """Container dispatch on magic bytes — how a real ingest pipeline
    routes mixed image formats.  Returns the unified
    (img_w, img_h, sum_rgb, pix_peak, checksum, n_bytes) tuple where
    n_bytes is the container length for BMP (header-declared, exact),
    the inflated scanline size for PNG, and the decoded sample count for
    JPEG — each the SQL-reproducible size for its container class."""
    if payload[:8] == PNG_MAGIC:
        return _decode_png_features(payload)
    if payload[:2] == b"BM":
        return (*_decode_bmp_features(payload), len(payload))
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg_features(payload)
    raise ValueError("unrecognized image container")


def synthesize_media(docs: DataFrame, real_media: bool = False) -> DataFrame:
    """Derive a deterministic media table from documents: payload = utf-8
    bytes of the text (stand-in for real video bytes).  With
    ``real_media`` the audio rows instead carry a genuine WAV container
    (:func:`_encode_wav`) and the image rows a genuine 24-bit BMP
    (:func:`_encode_bmp`), built in the same Arrow-batched
    ``mapInPandas`` shape real media ingestion would use; only video — a
    format family with no uncompressed stdlib container — stays a fake."""
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.col("doc_id") % 16 + 1).cast("int").alias("n_frames"),
    )
    if not real_media:
        return base

    # image containers ROTATE by (id // 3) % 3 (VERDICT r09 next #8 +
    # r10 stretch): losslessly-compressed PNG, uncompressed BMP, and
    # lossy baseline JPEG — one catalog row keeps all three container
    # decoders value-oracled
    def _image_enc(m: int) -> bytes:
        return (_encode_png, _encode_bmp, _encode_jpeg)[(m // 3) % 3](m)

    encoders = {
        "audio": _encode_wav,
        "image": _image_enc,
        # r10: video is a REAL uncompressed-AVI container too — raw
        # 'DIB ' frames need no codec, so the last marked fake closes
        "video": _encode_avi,
    }

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["payload"] = [
                encoders[k](int(m)) if k in encoders else p
                for k, m, p in zip(pdf["kind"], pdf["media_id"], pdf["payload"])
            ]
            yield pdf

    return base.mapInPandas(encode, MEDIA_SCHEMA)


def _fake_decode_features(payload: bytes, dim: int = 8) -> list[float]:
    """FAKE DECODE — deterministic byte-histogram features in place of a real
    image/audio decoder (codecs not present in this container). Real
    implementation would decode payload and pool pixel/spectral features."""
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] += b
    total = max(sum(acc), 1)
    return [round(a / total, 6) for a in acc]


def extract_features(
    media: DataFrame, dim: int = 8, decode_real: bool = False
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` processes whole record batches per partition — the
    correct shape for decode-heavy multimodal work (amortizes Python
    dispatch; scales with executors; no shuffle).

    With ``decode_real`` the audio and image rows (whose payloads must
    then be real WAV / BMP containers, see :func:`synthesize_media`) are
    REALLY decoded — :func:`_decode_wav_features` parses RIFF header +
    PCM frames, :func:`_decode_bmp_features` parses the BMP headers +
    bottom-up BGR pixel array — and the row's ``checksum`` becomes the
    decoded-content checksum, while sample-level
    (n_samples/peak/sumsq/zero_cross) and pixel-level
    (img_w/img_h/sum_rgb/pix_peak) feature columns are emitted (NULL for
    the other kinds; video decode stays the documented fake pending
    codec libraries)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda p: 0 if p is None else len(p)).astype("int64"),
                    "checksum": pdf["payload"].map(
                        lambda p: 0 if p is None else sum(p) % (1 << 31)
                    ).astype("int64"),
                    "feat": pdf["payload"].map(lambda p: _fake_decode_features(p, dim)),
                }
            )
            if decode_real:
                wav = [
                    _decode_wav_features(p) if k == "audio" and p is not None else None
                    for k, p in zip(pdf["kind"], pdf["payload"])
                ]
                img = [
                    _decode_image_features(p) if k == "image" and p is not None else None
                    for k, p in zip(pdf["kind"], pdf["payload"])
                ]
                vid = [
                    _decode_avi_features(p) if k == "video" and p is not None else None
                    for k, p in zip(pdf["kind"], pdf["payload"])
                ]
                for j, col in enumerate(
                    ("n_samples", "peak", "sumsq", "zero_cross")
                ):
                    out[col] = pd.array(
                        [None if d is None else d[j] for d in wav],
                        dtype="Int64",
                    )
                # pixel-level features: image containers AND the video
                # frames share the columns (both are decoded pixels)
                for j, col in enumerate(
                    ("img_w", "img_h", "sum_rgb", "pix_peak")
                ):
                    out[col] = pd.array(
                        [
                            i[j] if i is not None
                            else (v[j] if v is not None else None)
                            for i, v in zip(img, vid)
                        ],
                        dtype="Int64",
                    )
                out["vid_frames"] = pd.array(
                    [None if v is None else v[6] for v in vid],
                    dtype="Int64",
                )
                # decode proof: audio/image/video checksum = decoded one
                out["checksum"] = pd.Series(
                    [
                        w[4] if w is not None
                        else (b[4] if b is not None
                              else (v[4] if v is not None else c))
                        for c, w, b, v in zip(out["checksum"], wav, img, vid)
                    ],
                    dtype="int64",
                )
                # image/video n_bytes = the decoder's SQL-reproducible
                # size (BMP: container length; PNG: inflated scanline
                # bytes; JPEG/AVI: decoded sample count)
                out["n_bytes"] = pd.Series(
                    [
                        b[5] if b is not None
                        else (v[5] if v is not None else n)
                        for n, b, v in zip(out["n_bytes"], img, vid)
                    ],
                    dtype="int64",
                )
            yield out

    schema = DECODED_FEATURE_SCHEMA if decode_real else FEATURE_SCHEMA
    return media.mapInPandas(batches, schema)


def frame_sample(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Video frame sampling plumbing: explode frame indices 0..n_frames-1 and
    keep every Nth — pure built-ins (the real decoder would mapInPandas over
    (media_id, frame_idx) after this row-explosion step)."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % every_n == 0)
    )


def _decode_bmp_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """REAL pixel decode: BMP headers + bottom-up BGR rows + padding back
    to logical top-down RGB bytes — the pixel-level sibling of
    :func:`_decode_bmp_features` for consumers that need the raster, not
    folded features (perceptual hashing)."""
    magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    _hsz, w, h, _planes, bpp, comp, _imgsz = struct.unpack_from(
        "<IiiHHII", payload, 14
    )
    if bpp != 24 or comp != 0:
        raise ValueError("expected uncompressed 24-bit BMP")
    stride = (w * 3 + 3) // 4 * 4
    rgb = [0] * (w * h * 3)
    for r in range(h):
        y_top = h - 1 - r
        row_off = offset + r * stride
        for x in range(w):
            o = row_off + x * 3
            base = (y_top * w + x) * 3
            rgb[base] = payload[o + 2]
            rgb[base + 1] = payload[o + 1]
            rgb[base + 2] = payload[o]
    return w, h, rgb


def ahash_from_pixels(w: int, h: int, rgb: list[int]) -> tuple[int, int]:
    """Perceptual average-hash (aHash) — 64-bit image fingerprint, all
    integer arithmetic so a SQL oracle reproduces it bit for bit:

    - grayscale g(x,y) = (r + g + b) div 3;
    - 8x8 binning by u = (x*8) div w, v = (y*8) div h (standard
      nearest-rank bins; cell sizes differ by at most 1);
    - cell mean cm = cell_sum div cell_count (integer); a cell with no
      pixels (w<8 or h<8 leaves grid cells empty) contributes mean 0 —
      matching the SQL oracle, where an empty cell simply produces no
      row (ADVICE r11: the audio twin fingerprint_from_samples already
      guarded empty windows; this is the same policy);
    - bit(v*8+u) = 1 iff 64*cm > sum of all 64 cell means (strict —
      division-free global-mean comparison).

    Returns the hash as (hi, lo) 32-bit halves (a full 64-bit value can
    overflow a signed BIGINT's positive range in engines without uint64)."""
    sums = [0] * 64
    cnts = [0] * 64
    for y in range(h):
        v = (y * 8) // h
        for x in range(w):
            u = (x * 8) // w
            base = (y * w + x) * 3
            g = (rgb[base] + rgb[base + 1] + rgb[base + 2]) // 3
            sums[v * 8 + u] += g
            cnts[v * 8 + u] += 1
    cms = [s // c if c else 0 for s, c in zip(sums, cnts)]
    total = sum(cms)
    hi = lo = 0
    for idx, cm in enumerate(cms):
        if 64 * cm > total:
            if idx >= 32:
                hi |= 1 << (idx - 32)
            else:
                lo |= 1 << idx
    return hi, lo


def image_ahash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL image containers — the
    multimodal dedup primitive (near-duplicate images survive resizes
    and re-encodes that break byte-level digests; training-set image
    dedup pipelines hash exactly this way).  ALL THREE rotating image
    containers decode to their raster and flow through the same
    :func:`ahash_from_pixels` kernel: uncompressed BMP
    (:func:`_decode_bmp_pixels`), zlib-compressed PNG
    (:func:`_decode_png_pixels` — CRC walk + inflate + 5-filter
    reversal), and lossy baseline JPEG (:func:`_decode_jpeg_pixels` —
    Huffman entropy decode + dequant + full IDCT; the grayscale plane
    hashes as r=g=b).

    Output per image: dims, the hash as 32-bit halves, and its popcount
    (n_ones) — banding on 16-bit hash slices + Hamming<=d verification
    is then the SimHash pairing recipe this repo already proves
    (operators/dedup.py).

    Scale shape: one zero-shuffle mapInPandas pass (Arrow batches,
    decode + integer binning per row); output is 5 ints per image."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for m, k, p in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if k != "image" or p is None:
                    continue
                p = bytes(p)
                # Admission-gate failure policy (ADVICE r11): a
                # malformed payload is SKIPPED like an unknown magic,
                # never propagated — one bad container must not kill
                # the micro-batch of an always-on stream.
                try:
                    if p[:2] == b"BM":
                        w, h, rgb = _decode_bmp_pixels(p)
                    elif p[:8] == PNG_MAGIC:
                        w, h, rgb, _n = _decode_png_pixels(p)
                    elif p[:2] == b"\xff\xd8":
                        w, h, flat = _decode_jpeg_pixels(p)
                        rgb = [int(v) for v in flat for _ in range(3)]
                    else:
                        continue
                except (ValueError, struct.error, zlib.error, EOFError):
                    continue
                hi, lo = ahash_from_pixels(w, h, rgb)
                rows.append(
                    (
                        int(m),
                        w,
                        h,
                        hi,
                        lo,
                        bin(hi).count("1") + bin(lo).count("1"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "img_w", "img_h", "hash_hi", "hash_lo",
                    "n_ones",
                ],
            )

    return media.mapInPandas(
        batches,
        "media_id long, img_w int, img_h int, hash_hi long, hash_lo long,"
        " n_ones int",
    )


def _decode_wav_samples(payload: bytes) -> list[int]:
    """REAL DECODE to the sample plane: RIFF/WAVE header + PCM16 frames
    back to the int16 sequence — the sample-level sibling of
    :func:`_decode_wav_features` for consumers that need the waveform
    (acoustic fingerprinting)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("expected PCM16 mono WAV")
        n = w.getnframes()
        return list(struct.unpack(f"<{n}h", w.readframes(n)))


def fingerprint_from_samples(samples: list[int]) -> tuple[int, int]:
    """Acoustic fingerprint — the 1-D sibling of :func:`ahash_from_pixels`
    (energy-profile hashing, the shape of Haitsma-Kalker / Chromaprint
    style fingerprints reduced to its exact-integer core): 64 windows by
    nearest-rank binning w = (i*64) div n, per-window mean MAGNITUDE
    em = sum(|s|) div count, bit(w) = 1 iff 64*em > sum of all window
    means.  All integer — a SQL oracle reproduces the fingerprint bit
    for bit.  Returns (hi, lo) 32-bit halves."""
    n = len(samples)
    sums = [0] * 64
    cnts = [0] * 64
    for i, s in enumerate(samples):
        w = (i * 64) // n
        sums[w] += abs(s)
        cnts[w] += 1
    ems = [s // c for s, c in zip(sums, cnts) if c]
    # n >= 64 for every generated clip; guard stays for tiny inputs
    while len(ems) < 64:
        ems.append(0)
    total = sum(ems)
    hi = lo = 0
    for idx, em in enumerate(ems):
        if 64 * em > total:
            if idx >= 32:
                hi |= 1 << (idx - 32)
            else:
                lo |= 1 << idx
    return hi, lo


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Acoustic fingerprint over REAL WAV containers — the audio half of
    the multimodal dedup family (near-duplicate audio survives container
    re-encodes that break byte digests; energy-profile hashes are how
    audio dedup/retrieval pipelines bucket).  One zero-shuffle
    mapInPandas pass: parse PCM16 frames, 64-window integer energy
    binning, division-free mean threshold; pairing is the SimHash
    Hamming-banding recipe."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for m, k, p in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if k != "audio" or p is None or p[:4] != b"RIFF":
                    continue
                samples = _decode_wav_samples(bytes(p))
                hi, lo = fingerprint_from_samples(samples)
                rows.append(
                    (
                        int(m),
                        len(samples),
                        hi,
                        lo,
                        bin(hi).count("1") + bin(lo).count("1"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "hash_hi", "hash_lo", "n_ones"],
            )

    return media.mapInPandas(
        batches,
        "media_id long, n_samples int, hash_hi long, hash_lo long, n_ones int",
    )


def _decode_avi_gray_frames(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """REAL DECODE to per-frame gray planes: walk the RIFF chunk tree,
    collect the raw '00db' DIB frames, and reconstruct each as a
    top-down row-major gray plane g = (r+g+b) div 3 — the frame-level
    sibling of :func:`_decode_avi_features` for temporal analysis
    (scene-cut detection)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    end = 8 + int.from_bytes(payload[4:8], "little")
    w = h = None
    bpp = comp = None
    frames: list[bytes] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal w, h, bpp, comp
        p = lo
        while p + 8 <= hi:
            tag = payload[p : p + 4]
            ln = int.from_bytes(payload[p + 4 : p + 8], "little")
            data_lo, data_hi = p + 8, p + 8 + ln
            if tag == b"LIST":
                walk(data_lo + 4, data_hi)
            elif tag == b"avih":
                flds = struct.unpack_from("<14I", payload, data_lo)
                w, h = flds[8], flds[9]
            elif tag == b"strf":
                _sz, _w, _h, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, data_lo
                )
            elif tag == b"00db":
                frames.append(payload[data_lo:data_hi])
            p = data_hi + (ln % 2)

    walk(12, min(end, len(payload)))
    if w is None or bpp != 24 or comp != 0:
        raise ValueError("expected uncompressed 24-bit DIB video")
    stride = (w * 3 + 3) // 4 * 4
    planes: list[list[int]] = []
    for dib in frames:
        gray = [0] * (w * h)
        for r in range(h):
            y_top = h - 1 - r
            row_off = r * stride
            for x in range(w):
                o = row_off + x * 3
                # disk order BGR
                gray[y_top * w + x] = (
                    dib[o + 2] + dib[o + 1] + dib[o]
                ) // 3
        planes.append(gray)
    return w, h, planes


def video_scene_cuts(media: DataFrame) -> DataFrame:
    """Temporal video analysis over REAL AVI containers: per adjacent
    frame pair, the sum and mean of absolute gray differences — the
    classic pixel-domain scene-cut detector (frame-sampling pipelines
    cut clips at these boundaries before feature extraction).  All
    integer: sad = sum |g_a - g_b|, mad_x100 = (sad*100) div n_pix,
    is_cut = mad_x100 > 4800 (a mean gray step above 48) — fully
    SQL-verifiable against the generative frame formula.

    Scale shape: one zero-shuffle mapInPandas pass; output rows =
    transitions per clip (n_frames - 1)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for m, k, p in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if k != "video" or p is None or p[:4] != b"RIFF":
                    continue
                w, h, planes = _decode_avi_gray_frames(bytes(p))
                n_pix = w * h
                for f in range(len(planes) - 1):
                    sad = sum(
                        abs(a - b)
                        for a, b in zip(planes[f], planes[f + 1])
                    )
                    mad = (sad * 100) // n_pix
                    rows.append(
                        (int(m), f, sad, mad,
                         int(mad > 48 * 100))
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "f", "sad", "mad_x100", "is_cut"],
            )

    return media.mapInPandas(
        batches,
        "media_id long, f int, sad long, mad_x100 long, is_cut int",
    )


def silence_segments_from_samples(
    samples: list[int],
) -> tuple[int, int, int]:
    """Voice-activity / silence segmentation — the 1-D run-length sibling
    of :func:`fingerprint_from_samples` (same 64-window integer energy
    profile; VAD trimming is the standard audio-ingest gate before
    transcription or training): window w = (i*64) div n is SILENT iff
    its mean magnitude sits below 7/8 of the global window-mean —
    division-free: 512*em < 7*total (empty windows are skipped, the
    admission-gate policy shared with :func:`ahash_from_pixels`).
    Returns (n_silent, n_segments, longest_run) over the window
    sequence, where a segment is a maximal run of consecutive silent
    windows — all integer, so a SQL oracle reproduces every value bit
    for bit."""
    n = len(samples)
    sums = [0] * 64
    cnts = [0] * 64
    for i, s in enumerate(samples):
        w = (i * 64) // n
        sums[w] += abs(s)
        cnts[w] += 1
    ems = [s // c for s, c in zip(sums, cnts) if c]
    total = sum(ems)
    n_silent = n_segments = longest = cur = 0
    for em in ems:
        if 512 * em < 7 * total:
            n_silent += 1
            cur += 1
            if cur > longest:
                longest = cur
        else:
            if cur:
                n_segments += 1
            cur = 0
    if cur:
        n_segments += 1
    return n_silent, n_segments, longest


def audio_silence_segments(media: DataFrame) -> DataFrame:
    """Silence segmentation over REAL WAV containers — the audio-ingest
    trim/segment gate (ASR and audio-LM pipelines drop or split on
    silence before feature extraction).  One zero-shuffle mapInPandas
    pass: PCM16 decode, 64-window integer energy profile, run-length
    fold; output is 4 ints per clip.  Failure policy matches
    :func:`image_ahash`: malformed containers are skipped per payload,
    never propagated."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for m, k, p in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if k != "audio" or p is None or p[:4] != b"RIFF":
                    continue
                try:
                    samples = _decode_wav_samples(bytes(p))
                except (ValueError, struct.error, EOFError, wave.Error):
                    continue
                n_silent, n_segments, longest = (
                    silence_segments_from_samples(samples)
                )
                rows.append(
                    (int(m), len(samples), n_silent, n_segments, longest)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "n_silent", "n_segments",
                    "longest_run",
                ],
            )

    return media.mapInPandas(
        batches,
        "media_id long, n_samples int, n_silent int, n_segments int,"
        " longest_run int",
    )


def _image_container_enc(m: int) -> bytes:
    """The image-container rotation — PNG / BMP / JPEG by (id // 3) % 3,
    the same rotation :func:`synthesize_media` applies.  Duplicated as a
    module-level function (synthesize_media keeps its closure) but
    ORACLE-GUARDED against drift: the alignment rows' DuckDB oracle
    re-derives per-container features keyed on the same (id // 3) % 3,
    so diverging one rotation and not the other is a value mismatch."""
    return (_encode_png, _encode_bmp, _encode_jpeg)[(m // 3) % 3](m)


def alignment_media_frame(df: DataFrame) -> DataFrame:
    """(doc_id, text, source) -> one row per IMAGE-kind doc with the
    decoded pixel features AND the caption carried through:
    (media_id, source, text, img_w, img_h, sum_rgb, pix_peak, checksum).

    The ONE encode+decode chain the batch alignment rows
    (`media_text_alignment_gate` / `_by_source`) and the streaming
    admission twin share — the LAION-shape record carries payload and
    caption in the SAME row, so the chain is a filter plus one Arrow
    mapInPandas kernel: stream-safe, zero shuffle, no caption join
    anywhere.  Kind dispatch is doc_id % 3 == 0 (== synthesize_media's
    'image' arm); the codecs are the same :func:`_encode_png` /
    `_encode_bmp` / `_encode_jpeg` -> :func:`_decode_image_features`
    functions the proven media_features surface uses."""
    img = df.filter(F.col("doc_id") % 3 == 0)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_image_features(_image_container_enc(int(m)))
                for m in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "source": pdf["source"],
                    "text": pdf["text"],
                    "img_w": [f[0] for f in feats],
                    "img_h": [f[1] for f in feats],
                    "sum_rgb": [f[2] for f in feats],
                    "pix_peak": [f[3] for f in feats],
                    "checksum": [f[4] for f in feats],
                }
            )

    return img.mapInPandas(
        batches,
        "media_id long, source string, text string, img_w long, "
        "img_h long, sum_rgb long, pix_peak long, checksum long",
    )
