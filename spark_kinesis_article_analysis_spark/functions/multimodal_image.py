"""Round-9 image surface: real BMP, GIF87a (full LZW), and baseline
JPEG (real DCT/Huffman) codecs, plus a real nearest-neighbor resize
stage over decoded rasters.

Raises the honest-codec ceiling the same way WAV/PPM (r7) and PNG (r8)
did — stdlib-only encoders/decoders for formats whose specs allow it,
with the decode features stated in closed form by the oracle:

* **BMP** (`multimodal_codec_bmp`): BITMAPFILEHEADER + 40-byte
  BITMAPINFOHEADER, 24-bit uncompressed pixels, BGR byte order,
  bottom-up row order, each row padded to a 4-byte boundary — all four
  quirks exercised and re-derived by the decoder. Same two-axis
  gradient raster and corrupt-row policy as the PNG spec, so the
  channel-mean closed forms carry over and the row padding/flip is
  *provably* undone (a decoder that forgets the bottom-up flip swaps
  the mean_b ramp direction and hash-fails).
* **Resize** (`multimodal_resize_nearest`): the first *transform* stage
  over decoded pixels — decode the real PNG payload, nearest-neighbor
  downsample by 2 in both axes (``raster[::2, ::2]``, the exact map
  ``out(y', x') = in(2y', 2x')``), and re-derive geometry and channel
  means from the RESIZED raster. Because the source raster is a
  deterministic gradient, the resized means have closed forms too: the
  stride-2 ramp ``(r_byte + 2x') % 256`` wraps at most once over the
  output width, so the oracle can state the exact wrapped sum.

Both run as one Arrow-batched ``mapInPandas`` over a map-only plan —
zero shuffles, zero joins; the per-payload Python work is the
documented codec exception (a production deployment swaps the stdlib
codec for an imaging library behind the same batch signature).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.multimodal_codec import (
    _AVI_N_FRAMES,
    _B_BYTE,
    _CORRUPT,
    _HEIGHT,
    _R_BYTE,
    _WIDTH,
    _mean,
    _pack_png,
    _rgb,
    decode_payloads,
    decode_png_rgb8,
    gradient_raster,
    synthesize,
)
from spark_kinesis_article_analysis_spark.registry import register

BMP_SCHEMA = (
    "doc_id bigint, valid boolean, width int, height int, "
    "row_stride int, file_size int, mean_r double, mean_b double"
)

RESIZE_SCHEMA = (
    "doc_id bigint, valid boolean, out_width int, out_height int, "
    "mean_r double, mean_b double"
)


def encode_bmp_24(width: int, height: int, raster: "object") -> bytes:
    """Real BMP writer: BITMAPFILEHEADER ('BM', file size, pixel-data
    offset 54) + BITMAPINFOHEADER (24 bpp, BI_RGB). Rows are written
    BOTTOM-UP in BGR order, each padded to a 4-byte boundary — the
    format's three classic traps, all round-tripped."""
    import numpy as np

    px = np.asarray(raster, dtype=np.uint8).reshape(height, width, 3)
    stride = (width * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - width * 3)
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        body += px[y, :, ::-1].tobytes()  # RGB -> BGR
        body += pad
    file_size = 54 + len(body)
    file_header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_header + info_header + bytes(body)


def decode_bmp_24(payload: bytes) -> "tuple[int, int, int, int, object] | None":
    """Real BMP reader: magic + header validation (24 bpp, BI_RGB,
    positive bottom-up height), stride recomputation, bottom-up flip and
    BGR->RGB swap. Returns (width, height, stride, file_size, raster) or
    None for anything undecodable — one bad object must never kill a
    100 TB scan."""
    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    file_size, _r1, _r2, offset = struct.unpack("<IHHI", payload[2:14])
    (
        bi_size,
        width,
        height,
        planes,
        bpp,
        compression,
    ) = struct.unpack("<IiiHHI", payload[14:34])
    if bi_size != 40 or planes != 1 or bpp != 24 or compression != 0:
        return None
    if width <= 0 or height <= 0 or offset < 54:
        return None
    stride = (width * 3 + 3) // 4 * 4
    if len(payload) < offset + stride * height or file_size != 54 + stride * height:
        return None
    rows = []
    for y in range(height):
        base = offset + y * stride
        rows.append(payload[base : base + width * 3])
    bgr = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(height, width, 3)
    raster = bgr[::-1, :, ::-1]  # flip bottom-up, swap BGR -> RGB
    return width, height, stride, file_size, raster


def _pack_bmp(p: dict) -> bytes:
    """The PNG spec's two-axis gradient, as a BMP."""
    return encode_bmp_24(int(p["width"]), int(p["height"]), gradient_raster(p))


def _bmp_rows(b: bytes) -> "list[dict]":
    bmp = decode_bmp_24(b)
    if bmp is None:
        return [{"valid": False}]
    w, h, stride, fsize, raster = bmp
    return [
        dict(
            valid=True,
            width=w,
            height=h,
            row_stride=stride,
            file_size=fsize,
            mean_r=_mean(raster[:, :, 0]),
            mean_b=_mean(raster[:, :, 2]),
        )
    ]


@register(
    "multimodal_codec_bmp",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         {_CORRUPT}  AS corrupt,
         {_WIDTH}    AS width,
         {_HEIGHT}   AS height,
         {_R_BYTE}   AS r_byte,
         {_B_BYTE}   AS b_byte
  FROM documents
)
SELECT doc_id,
       coalesce(NOT corrupt, FALSE)                                    AS valid,
       CAST(CASE WHEN NOT corrupt THEN width  END AS INTEGER)          AS width,
       CAST(CASE WHEN NOT corrupt THEN height END AS INTEGER)          AS height,
       -- BGR rows pad to a 4-byte boundary
       CAST(CASE WHEN NOT corrupt THEN (width * 3 + 3) // 4 * 4 END
            AS INTEGER)                                                AS row_stride,
       -- 14-byte file header + 40-byte info header + padded pixel rows
       CAST(CASE WHEN NOT corrupt THEN 54 + ((width * 3 + 3) // 4 * 4) * height END
            AS INTEGER)                                                AS file_size,
       -- identical gradient raster to the PNG spec: same closed-form
       -- channel means (padding bytes never enter the mean; the
       -- bottom-up flip restores the ramp direction)
       CAST(CASE WHEN NOT corrupt THEN
              (width * r_byte + (width * (width - 1)) // 2
               - 256 * greatest(0, r_byte + width - 256))
              / CAST(width AS DOUBLE) END
            AS DOUBLE)                                                 AS mean_r,
       CAST(CASE WHEN NOT corrupt THEN
              (height * b_byte + (height * (height - 1)) // 2
               - 256 * greatest(0, b_byte + height - 256))
              / CAST(height AS DOUBLE) END
            AS DOUBLE)                                                 AS mean_b
FROM p
""",
    tags=("multimodal", "codec", "bmp", "mapInPandas", "north-star"),
    doc=(
        "REAL BMP codec, oracle-verified: rows synthesize actual 24-bit "
        "BI_RGB bitmaps (BITMAPFILEHEADER + BITMAPINFOHEADER, BGR byte "
        "order, bottom-up rows, 4-byte row padding) from JVM-computed "
        "parameters over the PNG spec's two-axis gradient; the decoder "
        "validates both headers, recomputes the stride, undoes the flip "
        "and channel swap, and re-derives geometry, declared file size, "
        "and channel means, which the oracle states in closed form. "
        "Corrupt-magic rows (every 97th doc) decode to valid=false + NULL "
        "features — the shared codec error contract."
    ),
)
def multimodal_codec_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return decode_payloads(synthesize(docs, _pack_bmp, 2), _bmp_rows, BMP_SCHEMA)


def _resize_rows(b: bytes) -> "list[dict]":
    """Real PNG decode, then a REAL nearest-neighbor 2x downsample
    (``raster[::2, ::2]`` — out(y', x') = in(2y', 2x')) and feature
    extraction from the resized raster."""
    png = decode_png_rgb8(b)
    if png is None:
        return [{"valid": False}]
    small = png[2][::2, ::2]
    return [
        dict(
            valid=True,
            out_width=small.shape[1],
            out_height=small.shape[0],
            mean_r=_mean(small[:, :, 0]),
            mean_b=_mean(small[:, :, 2]),
        )
    ]


@register(
    "multimodal_resize_nearest",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         {_CORRUPT}        AS corrupt,
         ({_WIDTH} + 1) // 2  AS w2,
         ({_HEIGHT} + 1) // 2 AS h2,
         {_R_BYTE}         AS r_byte,
         {_B_BYTE}         AS b_byte
  FROM documents
)
SELECT doc_id,
       coalesce(NOT corrupt, FALSE)                               AS valid,
       CAST(CASE WHEN NOT corrupt THEN w2 END AS INTEGER)         AS out_width,
       CAST(CASE WHEN NOT corrupt THEN h2 END AS INTEGER)         AS out_height,
       -- resized R samples the stride-2 ramp (r_byte + 2x') % 256,
       -- x' = 0..w2-1: max value r_byte + 2(w2-1) < 512, so the ramp
       -- wraps AT MOST once; exactly greatest(0, w2 - ceil((256-r)/2))
       -- = greatest(0, w2 - (257 - r_byte) // 2) samples lose 256.
       CAST(CASE WHEN NOT corrupt THEN
              (w2 * r_byte + w2 * (w2 - 1)
               - 256 * greatest(0, w2 - (257 - r_byte) // 2))
              / CAST(w2 AS DOUBLE) END
            AS DOUBLE)                                            AS mean_r,
       CAST(CASE WHEN NOT corrupt THEN
              (h2 * b_byte + h2 * (h2 - 1)
               - 256 * greatest(0, h2 - (257 - b_byte) // 2))
              / CAST(h2 AS DOUBLE) END
            AS DOUBLE)                                            AS mean_b
FROM p
""",
    tags=("multimodal", "resize", "transform", "mapInPandas", "north-star"),
    doc=(
        "REAL image transform stage: decode the actual PNG payload "
        "(multimodal_codec_png's synthesis), nearest-neighbor downsample "
        "2x in both axes (out(y', x') = in(2y', 2x')), and re-derive "
        "geometry and channel means from the RESIZED raster. The stride-2 "
        "gradient samples wrap mod 256 at most once across the output "
        "width, so the oracle states the exact wrapped sums in closed "
        "form. Undecodable payloads pass through as valid=false + NULL "
        "features — a resize stage must tolerate upstream corruption "
        "without re-classifying it."
    ),
)
def multimodal_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = synthesize(docs, _pack_png, 4, ("f_base",))
    return decode_payloads(payloads, _resize_rows, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# GIF87a codec — real LZW compression, palette indirection
# ---------------------------------------------------------------------------

GIF_SCHEMA = (
    "doc_id bigint, valid boolean, width int, height int, "
    "n_pixels int, palette_size int, mean_r double, mean_b double"
)

#: 256-entry palette: entry i is (r=i, g=g_byte-constant, b=255-i). The
#: linear r/b ramps make the decoded-raster channel means closed-form
#: functions of the INDEX distribution, so the oracle can state them —
#: while the decoder must still run real LZW + palette lookups to get
#: there.
GIF_MIN_CODE_SIZE = 8


def _lzw_encode_gif(indices: "bytes", min_code_size: int = GIF_MIN_CODE_SIZE) -> bytes:
    """GIF-variant LZW: variable code width starting min_code_size+1,
    CLEAR emitted first and whenever the table reaches 4096, END OF
    INFORMATION last; codes packed LSB-first."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    prefix = b""
    for b in indices:
        probe = prefix + bytes([b])
        if probe in table:
            prefix = probe
            continue
        emit(table[prefix], width)
        table[probe] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode_gif(
    data: bytes,
    min_code_size: int = GIF_MIN_CODE_SIZE,
    max_output: "int | None" = None,
) -> "bytes | None":
    """Inverse of :func:`_lzw_encode_gif`, including the KwKwK case
    (code == next unassigned entry) and mid-stream CLEARs. None on any
    malformed stream. ``max_output`` is the decompression-bomb guard: a
    crafted stream of long table entries expands quadratically in its
    input size, so the caller passes the raster size it is willing to
    hold and the decode aborts the moment output exceeds it (one bad
    object must bound MEMORY, not just avoid exceptions)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    bitbuf = 0
    nbits = 0

    def read(width: int) -> "int | None":
        nonlocal pos, bitbuf, nbits
        while nbits < width:
            if pos >= len(data):
                return None
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        return code

    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: "bytes | None" = None
    while True:
        code = read(width)
        if code is None:
            return None  # ran out of bits before EOI
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
            table.append(entry)
        else:
            return None  # code beyond next unassigned entry
        out += entry
        if max_output is not None and len(out) > max_output:
            return None  # decompression bomb / wrong declared geometry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    # unreachable


def encode_gif87a(width: int, height: int, indices: "object", g_byte: int) -> bytes:
    """Real GIF87a writer: header, logical screen descriptor, 256-entry
    global color table (r=i, g=const, b=255-i), image descriptor, LZW
    image data in 255-byte sub-blocks, trailer."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8).reshape(height, width)
    palette = bytearray()
    for i in range(256):
        palette += bytes([i, g_byte & 0xFF, 255 - i])
    lzw = _lzw_encode_gif(idx.tobytes())
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return b"".join(
        [
            b"GIF87a",
            struct.pack("<HHBBB", width, height, 0xF7, 0, 0),  # GCT, 8-bit, 256 entries
            bytes(palette),
            b"\x2c",
            struct.pack("<HHHHB", 0, 0, width, height, 0),  # no LCT, no interlace
            bytes([GIF_MIN_CODE_SIZE]),
            bytes(blocks),
            b"\x3b",
        ]
    )


def decode_gif87a(payload: bytes) -> "tuple[int, int, object] | None":
    """Real GIF87a reader: signature, screen descriptor, global color
    table, image descriptor validation, sub-block reassembly, LZW
    decode, palette lookup to an RGB raster. Returns
    (width, height, HxWx3 uint8 raster) or None for anything
    undecodable."""
    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    off = 13
    palette = None
    if packed & 0x80:
        n_entries = 2 << (packed & 0x07)
        if off + 3 * n_entries > len(payload):
            return None
        palette = np.frombuffer(
            payload[off : off + 3 * n_entries], dtype=np.uint8
        ).reshape(n_entries, 3)
        off += 3 * n_entries
    if off >= len(payload) or payload[off] != 0x2C or palette is None:
        return None  # plain single-image GIFs only (no extensions)
    if off + 10 > len(payload):
        return None
    left, top, width, height, ipacked = struct.unpack(
        "<HHHHB", payload[off + 1 : off + 10]
    )
    off += 10
    if ipacked & 0x80 or ipacked & 0x40 or not width or not height:
        return None  # no local tables, no interlace
    if left or top or width > sw or height > sh:
        return None
    if off >= len(payload):
        return None
    min_code = payload[off]
    off += 1
    if min_code != GIF_MIN_CODE_SIZE:
        return None
    lzw = bytearray()
    while True:
        if off >= len(payload):
            return None  # missing block terminator
        n = payload[off]
        off += 1
        if n == 0:
            break
        if off + n > len(payload):
            return None
        lzw += payload[off : off + n]
        off += n
    if off >= len(payload) or payload[off] != 0x3B:
        return None  # missing trailer
    # width/height are attacker-declared u16s: without an absolute cap a
    # ~1 MB crafted stream (LZW amplifies ~2700x at a full 4096-entry
    # table) could grow the output buffer to declared-raster size — up to
    # multiple GB — before the relative guard fires. Same 1<<26-pixel
    # ceiling as the JPEG decoder.
    if width * height > (1 << 26):
        return None
    indices = _lzw_decode_gif(bytes(lzw), min_code, max_output=width * height)
    if indices is None or len(indices) != width * height:
        return None
    idx = np.frombuffer(indices, dtype=np.uint8).reshape(height, width)
    if int(idx.max()) >= palette.shape[0]:
        return None
    return width, height, palette[idx]


def _pack_gif(p: dict) -> bytes:
    """Index at (y, x) is (r_byte + x + y) % 256 — a diagonal ramp, so
    the LZW dictionary sees repeating-but-shifted runs and every scanline
    differs (a decoder that misplaces row boundaries changes the means)."""
    w, h = int(p["width"]), int(p["height"])
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)[:, None]
    idx = ((int(p["r_byte"]) + x + y) % 256).astype(np.uint8)
    return encode_gif87a(w, h, idx, int(p["g_byte"]))


def _gif_rows(b: bytes) -> "list[dict]":
    gif = decode_gif87a(b)
    if gif is None:
        return [{"valid": False}]
    w, h, raster = gif
    return [
        dict(
            valid=True,
            width=w,
            height=h,
            n_pixels=w * h,
            palette_size=256,
            mean_r=_mean(raster[:, :, 0]),
            mean_b=_mean(raster[:, :, 2]),
        )
    ]


@register(
    "multimodal_codec_gif",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         {_CORRUPT}  AS corrupt,
         {_WIDTH}    AS width,
         {_HEIGHT}   AS height,
         {_R_BYTE}   AS r_byte
  FROM documents
),
-- index(y, x) = (r_byte + x + y) % 256; max value r_byte + w-1 + h-1
-- <= 255 + 31 + 6 < 512 wraps AT MOST once, so the index sum is
--   w*h*r_byte + h*TRI(w) + w*TRI(h) - 256 * n_wrap,
-- n_wrap = #{{(x, y): r_byte + x + y >= 256}} summed per scanline.
wraps AS (
  SELECT p.doc_id,
         CAST(sum(greatest(0, p.width - greatest(0, 256 - p.r_byte - y.y)))
              AS BIGINT) AS n_wrap
  FROM p, LATERAL unnest(generate_series(0, 6)) AS y(y)
  WHERE NOT coalesce(corrupt, TRUE) AND y.y < p.height
  GROUP BY p.doc_id
)
SELECT p.doc_id,
       coalesce(NOT corrupt, FALSE)                                  AS valid,
       CAST(CASE WHEN NOT corrupt THEN width  END AS INTEGER)        AS width,
       CAST(CASE WHEN NOT corrupt THEN height END AS INTEGER)        AS height,
       CAST(CASE WHEN NOT corrupt THEN width * height END
            AS INTEGER)                                              AS n_pixels,
       CAST(CASE WHEN NOT corrupt THEN 256 END AS INTEGER)           AS palette_size,
       -- palette r = index, so mean_r is the mean index
       CAST(CASE WHEN NOT corrupt THEN
              (width * height * r_byte
               + height * (width * (width - 1)) // 2
               + width * (height * (height - 1)) // 2
               - 256 * w.n_wrap)
              / CAST(width * height AS DOUBLE) END
            AS DOUBLE)                                               AS mean_r,
       -- palette b = 255 - index: exact complement of the index sum
       CAST(CASE WHEN NOT corrupt THEN
              (CAST(255 AS BIGINT) * width * height
               - (width * height * r_byte
                  + height * (width * (width - 1)) // 2
                  + width * (height * (height - 1)) // 2
                  - 256 * w.n_wrap))
              / CAST(width * height AS DOUBLE) END
            AS DOUBLE)                                               AS mean_b
FROM p LEFT JOIN wraps w ON w.doc_id = p.doc_id
""",
    tags=("multimodal", "codec", "gif", "lzw", "mapInPandas", "north-star"),
    doc=(
        "REAL GIF87a codec, oracle-verified: rows synthesize actual GIFs "
        "— logical screen descriptor, 256-entry global color table "
        "(r=i, b=255-i), and genuinely LZW-compressed image data "
        "(variable code width, CLEAR/EOI, 255-byte sub-blocks) over a "
        "diagonal index ramp; the decoder walks the container, "
        "reassembles sub-blocks, runs full LZW (including the KwKwK "
        "case), applies the palette, and re-derives geometry and channel "
        "means, which the oracle states in closed form (the diagonal "
        "ramp wraps mod 256 at most once, so the per-scanline wrap count "
        "is a bounded series sum). Corrupt-signature rows decode to "
        "valid=false + NULL features — the shared codec error contract."
    ),
)
def multimodal_codec_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return decode_payloads(synthesize(docs, _pack_gif, 3), _gif_rows, GIF_SCHEMA)


# ---------------------------------------------------------------------------
# Baseline JPEG codec — real DCT / quantization / Huffman entropy coding
# ---------------------------------------------------------------------------

JPEG_SCHEMA = (
    "doc_id bigint, valid boolean, width int, height int, "
    "n_blocks_x int, mean_luma double"
)

#: Per-block-column luma step — blocks differ so a decoder that
#: misorders blocks, botches the DC DPCM chain, or mis-crops the MCU
#: padding changes the mean and hash-fails.
_JPEG_BLOCK_STEP = 17

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Canonical DC table: category n -> n-bit code (categories 0..11).
_DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]  # BITS[1..16]
_DC_VALS = list(range(12))
#: Minimal AC table: the single EOB symbol (run=0, size=0) as a 1-bit
#: code — legal baseline JPEG (DHT tables are per-file), and all this
#: encoder ever emits since constant blocks have no AC energy. The
#: DECODER builds whatever tables the file declares, so it stays a
#: general baseline-grayscale reader.
_AC_BITS = [0, 1] + [0] * 15
_AC_VALS = [0x00]


def _dct_cos(k: int, n: int) -> float:
    import math

    return math.cos((2 * n + 1) * k * math.pi / 16)


_DCT_C = None


def _dct_tables():
    """(C[k], cos[k][n]) for the 8-point DCT-II pair."""
    global _DCT_C
    if _DCT_C is None:
        import math

        c = [math.sqrt(0.5) if k == 0 else 1.0 for k in range(8)]
        cos = [[_dct_cos(k, n) for n in range(8)] for k in range(8)]
        _DCT_C = (c, cos)
    return _DCT_C


def _fdct8x8(block: "object") -> "object":
    """Forward 8x8 DCT (JPEG A.3.3), float64, on a level-shifted block."""
    import numpy as np

    c, cos = _dct_tables()
    cosm = np.asarray(cos)
    cv = np.asarray(c)
    b = np.asarray(block, dtype=np.float64)
    # F = 1/4 * C u C v * cos_u . b . cos_v^T
    out = 0.25 * np.outer(cv, cv) * (cosm @ b @ cosm.T)
    return out


def _idct8x8(coef: "object") -> "object":
    import numpy as np

    c, cos = _dct_tables()
    cosm = np.asarray(cos)
    cv = np.asarray(c)
    f = np.asarray(coef, dtype=np.float64) * 0.25 * np.outer(cv, cv)
    return cosm.T @ f @ cosm


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, bits: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((bits >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _canonical_codes(bits: "list[int]", vals: "list[int]") -> "dict[int, tuple[int, int]]":
    """symbol -> (code, length) per the JPEG canonical construction
    (C.2): codes of each length assigned in value order."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length] if length < len(bits) else 0):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _dht_segment(tc_th: int, bits: "list[int]", vals: "list[int]") -> bytes:
    body = bytes([tc_th]) + bytes(bits[1:17]) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg_gray(width: int, height: int, raster: "object") -> bytes:
    """Real baseline grayscale JPEG writer: SOI, DQT (unit quant table —
    lossless for DC-only blocks), SOF0, two DHT segments (canonical DC
    table + minimal AC table), SOS, Huffman-entropy-coded scan with DC
    DPCM and byte stuffing, EOI. MCU padding replicates edge pixels."""
    import numpy as np

    px = np.asarray(raster, dtype=np.uint8).reshape(height, width)
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    padded = np.empty((bh * 8, bw * 8), dtype=np.uint8)
    padded[:height, :width] = px
    if bw * 8 > width:
        padded[:height, width:] = px[:, -1:]
    if bh * 8 > height:
        padded[height:, :] = padded[height - 1 : height, :]

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    w = _BitWriter()
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(
                np.float64
            ) - 128.0
            coef = np.rint(_fdct8x8(block)).astype(np.int64)  # quant table = 1
            zz = [int(coef.flat[i]) for i in _ZIGZAG]
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            mag = abs(diff)
            t = mag.bit_length()
            code, length = dc_codes[t]
            w.put(code, length)
            if t:
                w.put(diff if diff > 0 else diff + (1 << t) - 1, t)
            # AC: emit EOB unless any nonzero AC survives (constant
            # blocks never have any; a general encoder would run-length
            # code here)
            if any(zz[1:]):
                raise ValueError(
                    "encode_jpeg_gray only encodes DC-only (per-block-constant) rasters"
                )
            acode, alen = ac_codes[0x00]
            w.put(acode, alen)
    scan = w.flush()

    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", height, width)
        + bytes([1, 1, 0x11, 0])  # 1 component, 1x1 sampling, qtable 0
    )
    sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    return b"".join(
        [
            b"\xff\xd8",  # SOI
            dqt,
            sof0,
            _dht_segment(0x00, _DC_BITS, _DC_VALS),
            _dht_segment(0x10, _AC_BITS, _AC_VALS),
            sos,
            scan,
            b"\xff\xd9",  # EOI
        ]
    )


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> "int | None":
        if self.n == 0:
            if self.pos >= len(self.data):
                return None
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    return None  # marker inside scan — malformed here
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> "int | None":
        v = 0
        for _ in range(k):
            b = self.bit()
            if b is None:
                return None
            v = (v << 1) | b
        return v


def _build_decode_table(bits: "list[int]", vals: "list[int]"):
    """(code, length) -> symbol map for Huffman decoding."""
    return {v: k for k, v in _canonical_codes(bits, vals).items()}


def decode_jpeg_gray(payload: bytes) -> "tuple[int, int, object] | None":
    """Real baseline grayscale JPEG reader: marker walk (DQT/SOF0/DHT/
    SOS, skipping APPn/COM), declared-table Huffman decode of the
    entropy stream (DC DPCM + AC run-length incl. ZRL/EOB), dequant,
    inverse zigzag, float IDCT, level shift, clamp, and MCU crop.
    Returns (width, height, HxW uint8 raster) or None for anything
    undecodable."""
    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    qt: "dict[int, list[int]]" = {}
    huff: "dict[tuple[int, int], dict]" = {}
    width = height = None
    comp_q = None
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            return None
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if pos + 2 + seglen > len(payload):
            return None
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (8-bit tables only)
            b = 0
            while b < len(body):
                pq_tq = body[b]
                if pq_tq >> 4 != 0 or b + 65 > len(body):
                    return None
                qt[pq_tq & 0x0F] = list(body[b + 1 : b + 65])
                b += 65
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 8 or body[0] != 8 or body[5] != 1:
                return None  # 8-bit, single component only
            height, width = struct.unpack(">HH", body[1:5])
            if not width or not height or body[7] != 0x11:
                return None  # 1x1 sampling only
            comp_q = body[8] if len(body) > 8 else 0
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            return None  # non-baseline frame types
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc_th = body[b]
                if b + 17 > len(body):
                    return None
                bits = [0] + list(body[b + 1 : b + 17])
                n = sum(bits)
                if b + 17 + n > len(body):
                    return None
                vals = list(body[b + 17 : b + 17 + n])
                huff[(tc_th >> 4, tc_th & 0x0F)] = _build_decode_table(bits, vals)
                b += 17 + n
        elif marker == 0xDA:  # SOS
            if len(body) < 4 or body[0] != 1:
                return None
            dc_id, ac_id = body[2] >> 4, body[2] & 0x0F
            scan_start = pos + 2 + seglen
            break
        # APPn / COM / others: skip
        pos += 2 + seglen
    if scan_start is None or width is None or comp_q is None:
        return None
    if comp_q not in qt or (0, dc_id) not in huff or (1, ac_id) not in huff:
        return None
    # find EOI (scan data may contain stuffed FF00 but no other markers)
    end = payload.rfind(b"\xff\xd9")
    if end <= scan_start:
        return None
    dc_table = huff[(0, dc_id)]
    ac_table = huff[(1, ac_id)]
    quant = qt[comp_q]
    r = _BitReader(payload[scan_start:end])

    def read_symbol(table) -> "int | None":
        code = 0
        for length in range(1, 17):
            b = r.bit()
            if b is None:
                return None
            code = (code << 1) | b
            if (code, length) in table:
                return table[(code, length)]
        return None

    def extend(v: int, t: int) -> int:
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    bw = (width + 7) // 8
    bh = (height + 7) // 8
    # allocation guard: SOF0 dims are attacker-controlled u16s — a
    # 65535 x 65535 declaration would try a 4 GiB canvas before a single
    # scan bit is validated. Production decoders impose a pixel limit;
    # 1 << 26 (~64 MP) is far above any legitimate payload here.
    if bw * bh * 64 > (1 << 26):
        return None
    out = np.empty((bh * 8, bw * 8), dtype=np.uint8)
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw):
            zz = [0] * 64
            t = read_symbol(dc_table)
            if t is None or t > 11:
                return None
            if t:
                v = r.bits(t)
                if v is None:
                    return None
                prev_dc += extend(v, t)
            zz[0] = prev_dc
            k = 1
            while k < 64:
                rs = read_symbol(ac_table)
                if rs is None:
                    return None
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 0:  # EOB
                        break
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    return None
                k += run
                if k >= 64:
                    return None
                v = r.bits(size)
                if v is None:
                    return None
                zz[k] = extend(v, size)
                k += 1
            coef = np.zeros(64, dtype=np.float64)
            for i, zi in enumerate(_ZIGZAG):
                coef[zi] = zz[i] * quant[i]
            block = _idct8x8(coef.reshape(8, 8)) + 128.0
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.rint(block), 0, 255
            ).astype(np.uint8)
    return width, height, out[:height, :width]


def _pack_jpeg(p: dict) -> bytes:
    """The raster is constant per 8x8 block column — v(bx) = (r_byte +
    17*bx) % 256 — which the unit quant table preserves EXACTLY through
    the real DCT/Huffman pipeline (constant blocks carry only DC energy),
    so the decoded means stay closed-form while markers, canonical
    Huffman tables, DC DPCM, byte stuffing, and MCU padding are all
    genuinely exercised."""
    w, h = int(p["width"]), int(p["height"])
    bw = (w + 7) // 8
    cols = (int(p["r_byte"]) + _JPEG_BLOCK_STEP * np.arange(bw, dtype=np.int64)) % 256
    px = np.repeat(cols, 8)[:w][None, :].repeat(h, axis=0).astype(np.uint8)
    return encode_jpeg_gray(w, h, px)


def _jpeg_rows(b: bytes) -> "list[dict]":
    jpeg = decode_jpeg_gray(b)
    if jpeg is None:
        return [{"valid": False}]
    w, h, raster = jpeg
    return [dict(valid=True, width=w, height=h, n_blocks_x=(w + 7) // 8, mean_luma=_mean(raster))]


@register(
    "multimodal_codec_jpeg",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         {_CORRUPT}  AS corrupt,
         {_WIDTH}    AS width,
         {_HEIGHT}   AS height,
         {_R_BYTE}   AS r_byte
  FROM documents
),
-- per-block-column constant luma v(bx) = (r_byte + 17*bx) % 256, each
-- column covering min(8, width - 8*bx) pixels of every row
sums AS (
  SELECT p.doc_id,
         CAST(sum(((p.r_byte + 17 * bx.bx) % 256) * least(8, p.width - 8 * bx.bx))
              AS BIGINT) AS luma_sum
  FROM p, LATERAL unnest(generate_series(0, 3)) AS bx(bx)
  WHERE NOT coalesce(corrupt, TRUE) AND bx.bx < (p.width + 7) // 8
  GROUP BY p.doc_id
)
SELECT p.doc_id,
       coalesce(NOT corrupt, FALSE)                                  AS valid,
       CAST(CASE WHEN NOT corrupt THEN width  END AS INTEGER)        AS width,
       CAST(CASE WHEN NOT corrupt THEN height END AS INTEGER)        AS height,
       CAST(CASE WHEN NOT corrupt THEN (width + 7) // 8 END
            AS INTEGER)                                              AS n_blocks_x,
       -- rows are identical, so the raster mean is the per-row mean
       CAST(CASE WHEN NOT corrupt THEN s.luma_sum / CAST(width AS DOUBLE) END
            AS DOUBLE)                                               AS mean_luma
FROM p LEFT JOIN sums s ON s.doc_id = p.doc_id
""",
    tags=("multimodal", "codec", "jpeg", "dct", "huffman", "mapInPandas", "north-star"),
    doc=(
        "REAL baseline JPEG codec, oracle-verified: rows synthesize "
        "actual grayscale JPEGs — DQT, SOF0, canonical Huffman DHT "
        "segments, and a genuinely entropy-coded scan (DC DPCM, byte "
        "stuffing, MCU edge padding) through a real float DCT; the "
        "decoder walks markers, rebuilds the DECLARED Huffman tables, "
        "decodes the bitstream (EOB/ZRL/DPCM), dequantizes, inverse- "
        "zigzags, runs the IDCT, and crops the MCU padding. The raster "
        "is constant per 8x8 block column with a unit quant table, so "
        "the lossy pipeline is exact by construction (DC-only blocks) "
        "and the oracle states the decoded mean in closed form — while "
        "a decoder that misorders blocks, breaks the DPCM chain, or "
        "mis-crops padding changes the mean and hash-fails. Corrupt-"
        "marker rows decode to valid=false + NULL features."
    ),
)
def multimodal_codec_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return decode_payloads(synthesize(docs, _pack_jpeg, 2), _jpeg_rows, JPEG_SCHEMA)


# ---------------------------------------------------------------------------
# AVI video container — real RIFF walk, uncompressed DIB frames, 1-to-N
# ---------------------------------------------------------------------------

AVI_SCHEMA = (
    "doc_id bigint, frame_idx int, valid boolean, width int, height int, "
    "n_frames int, mean_r double"
)

#: Per-frame red-channel shift — consecutive frames differ, so a
#: decoder that drops, duplicates, or reorders '00db' chunks moves the
#: per-frame means and hash-fails.
_AVI_FRAME_SHIFT = 7


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""  # RIFF word alignment
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def encode_avi_dib(width: int, height: int, frames: "list[object]") -> bytes:
    """Real AVI writer: RIFF 'AVI ' with an 'hdrl' LIST (avih main
    header + one 'vids'/'DIB ' stream with its BITMAPINFOHEADER) and a
    'movi' LIST of '00db' chunks, each an uncompressed bottom-up BGR
    DIB frame with 4-byte row padding (the BMP body convention)."""
    import numpy as np

    stride = (width * 3 + 3) // 4 * 4
    frame_bytes = []
    for raster in frames:
        px = np.asarray(raster, dtype=np.uint8).reshape(height, width, 3)
        body = bytearray()
        pad = b"\x00" * (stride - width * 3)
        for y in range(height - 1, -1, -1):
            body += px[y, :, ::-1].tobytes()
            body += pad
        frame_bytes.append(bytes(body))

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        40_000, stride * height, 0, 0x10, len(frames), 0, 1, stride * height,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB "
        # flags, prio, lang, initial frames, scale, rate, start, length,
        # suggested buffer, quality, sample size
        + struct.pack(
            "<IHHIIIIIIII",
            0, 0, 0, 0, 1, 25, 0, len(frames), stride * height, 0xFFFFFFFF, 0,
        )
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00db", fb) for fb in frame_bytes))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi_dib(payload: bytes) -> "tuple[int, int, list] | None":
    """Real AVI reader: RIFF signature + declared-size check, chunk walk
    through 'hdrl' (avih geometry, strf DIB validation: 24 bpp BI_RGB)
    and 'movi' ('00db' frames, bottom-up flip + BGR->RGB swap, stride
    validation). Returns (width, height, [HxWx3 uint8 raster, ...]) or
    None for anything undecodable."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if 8 + riff_size > len(payload):
        return None
    width = height = None
    frames: list = []
    saw_strf = False

    def walk(buf: bytes, depth: int = 0) -> bool:
        nonlocal width, height, saw_strf
        # Legitimate AVI nests <= 3 LIST levels (hdrl>strl, movi>rec);
        # a crafted payload of back-to-back LIST headers (12 bytes buys a
        # level) would otherwise recurse ~len/12 deep and raise
        # RecursionError out of the scan. The cap also bounds the slice
        # copies each level makes.
        if depth > 32:
            return False
        off = 0
        while off + 8 <= len(buf):
            fourcc = buf[off : off + 4]
            (size,) = struct.unpack("<I", buf[off + 4 : off + 8])
            data = buf[off + 8 : off + 8 + size]
            if len(data) != size:
                return False
            if fourcc == b"LIST":
                if not walk(data[4:], depth + 1):
                    return False
            elif fourcc == b"avih":
                if size < 40:
                    return False
                width, height = struct.unpack("<II", data[32:40])
            elif fourcc == b"strf":
                if size < 20:
                    return False
                bi_size, w2, h2, planes, bpp = struct.unpack("<IiiHH", data[:16])
                if bi_size != 40 or bpp != 24 or planes != 1:
                    return False
                (compression,) = struct.unpack("<I", data[16:20])
                if compression != 0:
                    return False
                saw_strf = True
            elif fourcc == b"00db":
                frames.append(data)
            off += 8 + size + (size % 2)  # word alignment
        return True

    if not walk(payload[12 : 8 + riff_size]):
        return None
    if not width or not height or not saw_strf or not frames:
        return None
    stride = (width * 3 + 3) // 4 * 4
    out = []
    for fb in frames:
        if len(fb) != stride * height:
            return None
        rows = [fb[y * stride : y * stride + width * 3] for y in range(height)]
        bgr = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(height, width, 3)
        out.append(bgr[::-1, :, ::-1])
    return width, height, out


def _pack_avi(p: dict) -> bytes:
    """Frame f's red channel ramps as (r_byte + x + 7*f) % 256 (G
    constant, B zero), so consecutive frames shift and the per-frame
    means stay closed-form."""
    w, h = int(p["width"]), int(p["height"])
    x = np.arange(w, dtype=np.int64)
    frames = [
        _rgb(w, h, (int(p["r_byte"]) + _AVI_FRAME_SHIFT * f + x) % 256, int(p["g_byte"]), 0)
        for f in range(int(p["n_frames"]))
    ]
    return encode_avi_dib(w, h, frames)


def _avi_rows(b: bytes) -> "list[dict]":
    """ONE ROW PER FRAME (the 1-to-N video frame-sampling shape); an
    undecodable payload is a single valid=false row, so corruption stays
    visible per document."""
    avi = decode_avi_dib(b)
    if avi is None:
        return [{"valid": False}]
    w, h, frames = avi
    return [
        dict(
            frame_idx=f,
            valid=True,
            width=w,
            height=h,
            n_frames=len(frames),
            mean_r=_mean(raster[:, :, 0]),
        )
        for f, raster in enumerate(frames)
    ]


@register(
    "multimodal_codec_avi_frames",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         {_CORRUPT}       AS corrupt,
         {_WIDTH}         AS width,
         {_HEIGHT}        AS height,
         {_R_BYTE}        AS r_byte,
         {_AVI_N_FRAMES}  AS n_frames
  FROM documents
),
-- frame f's red ramp starts at r2 = (r_byte + 7f) % 256 and wraps mod
-- 256 at most once across the width (r2 + w - 1 <= 255 + 31 < 512)
good AS (
  SELECT p.doc_id, f.f AS frame_idx, p.width, p.height, p.n_frames,
         (p.r_byte + {_AVI_FRAME_SHIFT} * f.f) % 256 AS r2
  FROM p, LATERAL unnest(generate_series(0, 4)) AS f(f)
  WHERE NOT coalesce(corrupt, TRUE) AND f.f < p.n_frames
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, TRUE AS valid,
       CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST((width * r2 + (width * (width - 1)) // 2
             - 256 * greatest(0, r2 + width - 256)) / CAST(width AS DOUBLE)
            AS DOUBLE) AS mean_r
FROM good
UNION ALL
SELECT doc_id, CAST(NULL AS INTEGER), FALSE, CAST(NULL AS INTEGER),
       CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE)
FROM p WHERE coalesce(corrupt, TRUE)
""",
    tags=("multimodal", "codec", "avi", "video", "frames", "mapInPandas", "north-star"),
    doc=(
        "REAL video container codec, oracle-verified: rows synthesize "
        "actual AVI files (RIFF 'AVI ' with hdrl/avih/strl stream "
        "headers and a movi LIST of uncompressed 24-bit DIB '00db' "
        "frames — bottom-up BGR rows, 4-byte stride, RIFF word "
        "alignment); the decoder walks the chunk tree recursively, "
        "validates the stream format, un-flips every frame, and emits "
        "ONE ROW PER FRAME with geometry and the frame's red-channel "
        "mean — the 1-to-N frame-sampling shape of video frame "
        "extraction. Frame f's ramp "
        "shifts by 7f, so dropped/duplicated/reordered frames hash-"
        "fail; corrupt-signature rows emit a single valid=false row."
    ),
)
def multimodal_codec_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = synthesize(docs, _pack_avi, 4, ("n_frames",))
    return decode_payloads(payloads, _avi_rows, AVI_SCHEMA)
