"""REAL multimodal codecs — RIFF/WAVE (PCM), PPM (P6), and PNG
(RFC 2083) — with oracle-exact round-trip verification.

The base multimodal module (``functions/multimodal.py``) holds the
binary-payload column layout; this module decodes real payloads in the
formats readable with nothing but the standard library and numpy (no
image/audio library is assumed):

* **audio/wav** — a byte-exact minimal RIFF/WAVE writer (44-byte
  header + 16-bit mono PCM) and a real chunk-walking reader (``fmt ``
  / ``data`` discovery, so payloads with extra chunks like ``LIST``
  still parse), with RMS computed over the actual samples.
* **image/x-portable-pixmap** — a PPM "P6" writer and a real header
  parser (token-based, ``#``-comment aware per the netpbm spec) with
  per-channel statistics over the actual raster.
* **image/png** — a real RFC 2083 codec: zlib-deflated IDAT, CRC-32 on
  every chunk (verified on read), and all five scanline filter types
  including Paeth, cycled per row so every payload round-trips through
  the full filter set (see ``multimodal_codec_png``).

Verification discipline (same as ``scalar_xml_functions``'s round-trip
identity): payload *parameters* (sample rate, sample count, amplitude,
image geometry, channel bytes) are derived from row keys with shared
SQL fragments evaluated JVM-side, the synthesizer packs REAL bytes from
them, the decoder re-derives every feature by PARSING those bytes, and
the DuckDB oracle states the closed-form expected value — so a
hash-green verdict proves the encoder and decoder agree byte-for-byte
with an independent arithmetic model. Waveforms are ±amp square waves
and rasters are constant-channel, chosen so RMS/mean are exact in
float64 (sums of ≤ 254 identical values < 2^53; division and sqrt of a
perfect square are correctly rounded → exact), keeping doubles
hash-comparable across engines.

Error-row policy is part of the contract: every 97th document's
payload has its magic smashed (and NULL-keyed rows get a 4-byte junk
payload), and the decoder must map undecodable bytes to
``valid=false`` + NULL features — one bad object must never kill a
100 TB scan.

Scale posture: synthesis and decode are Arrow-batched Python
(pandas_udf / mapInPandas) — the payload bytes never cross row-at-a-
time; the plan is scan → project → two Arrow stages, shuffle-free and
embarrassingly partition-parallel. At 100 TB the synthesizer is
replaced by ``binaryFile`` reads or object-store pointer fetches and
the decoder is unchanged (swap the parser body for pillow/av per
COVERAGE.md's swap-in note).
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.registry import register

# ---------------------------------------------------------------------------
# Shared parameter fragments — ONE source of truth for both engines.
#
# Portable SQL (valid and identical-semantics in Spark SQL and DuckDB):
# `%` is sign-of-dividend remainder in both; abs() after % keeps
# negative keys in range; coalesce() totalizes NULL n_chars. Evaluated
# JVM-side in the builder (F.expr) and verbatim in the oracle, so no
# Python arithmetic can drift from the SQL model (Python's % differs on
# negatives — it must never compute a parameter).
# ---------------------------------------------------------------------------

_MIME = (
    "CASE WHEN doc_id % 2 = 0 THEN 'audio/wav' "
    "WHEN doc_id % 2 IN (1, -1) THEN 'image/x-portable-pixmap' END"
)
_CORRUPT = "(doc_id IS NULL OR doc_id % 97 = 0)"
_RATE = "8000 + abs(doc_id % 3) * 4000"
_N_SAMPLES = "64 + abs(coalesce(n_chars, 0) % 191)"
_AMP = "100 + abs(doc_id % 1000)"
_WIDTH = "4 + abs(coalesce(n_chars, 0) % 29)"
_HEIGHT = "3 + abs(doc_id % 5)"
_R_BYTE = "abs(doc_id % 256)"
_G_BYTE = "abs(coalesce(n_chars, 0) % 256)"
_B_BYTE = "abs((doc_id + coalesce(n_chars, 0)) % 256)"
#: Per-doc PNG filter phase: scanline y of doc k uses filter (k + y) % 5,
#: so every payload taller than 4 rows exercises ALL five RFC 2083 filter
#: types (None/Sub/Up/Average/Paeth) and the decoder's distinct-filter
#: count has the closed form least(height, 5).
_PNG_FILTER_BASE = "abs(doc_id % 5)"
#: AVI frame count per document (bounded 2..5 — the wrap analysis in the
#: oracle relies on r_byte + width-1 + 7*(n_frames-1) < 512).
_AVI_N_FRAMES = "2 + abs(doc_id % 4)"

#: Every codec's parameters: the corrupt flag and the raster geometry /
#: channel bytes. A codec names the extras it also needs.
_PARAMS = {
    "corrupt": _CORRUPT,
    "width": _WIDTH,
    "height": _HEIGHT,
    "r_byte": _R_BYTE,
    "g_byte": _G_BYTE,
    "b_byte": _B_BYTE,
}
_EXTRA_PARAMS = {
    "mime": _MIME,
    "rate": _RATE,
    "n_samples": _N_SAMPLES,
    "amp": _AMP,
    "f_base": _PNG_FILTER_BASE,
    "n_frames": _AVI_N_FRAMES,
}
#: The WAV/PPM codec's extras (``multimodal_codec_decode`` and ``_frames``).
WAV_EXTRAS = ("mime", "rate", "n_samples", "amp")

#: Frame geometry for the windowed-RMS operator: 16-bit mono samples
#: per frame. n_samples ∈ [64, 254] → 2..8 frames per payload.
FRAME_SAMPLES = 32

DECODE_SCHEMA = (
    "doc_id bigint, mime string, n_bytes int, valid boolean, "
    "sample_rate int, n_samples int, rms double, "
    "width int, height int, mean_r double"
)

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_samples int, frame_rms double"

#: Largest possible frame index under the synthesis arithmetic
#: (n_samples ≤ 64 + 190 = 254): the oracle joins a CONSTANT series
#: 0.._MAX_FRAME_IDX (DuckDB's generate_series takes no correlated
#: arguments) and filters per row.
_MAX_FRAME_IDX = (64 + 190 + FRAME_SAMPLES - 1) // FRAME_SAMPLES - 1


# ---------------------------------------------------------------------------
# Codec skeleton — one parameter projection, one synthesis UDF, one decode
# loop. A codec supplies ``pack(params) -> bytes`` and
# ``rows_of(payload, *kept) -> list[dict]``; everything else is here.
#
# Both Python bodies are closures returned by a factory, and import pandas
# inside it, so cloudpickle ships them to the workers BY VALUE: a nested
# function has no importable name, and its worker-local imports resolve in
# the worker's own interpreter.
# ---------------------------------------------------------------------------


def codec_params(docs: DataFrame, extras: "tuple[str, ...]" = ()) -> DataFrame:
    """documents → (doc_id, p): ``p`` is one struct of JVM-computed
    synthesis parameters — doc_id, the shared ``_PARAMS`` and the named
    ``extras`` — so Python never derives a value the oracle models."""
    frags = {**_PARAMS, **{k: _EXTRA_PARAMS[k] for k in extras}}
    fields = [
        (F.expr(sql) if k in ("corrupt", "mime") else F.expr(sql).cast("int")).alias(k)
        for k, sql in frags.items()
    ]
    return docs.select("doc_id", F.struct("doc_id", *fields).alias("p"))


def _synthesizer(
    pack: "Callable[[dict], bytes]", magic_len: int
) -> "Callable[[pd.DataFrame], pd.Series]":
    """pandas_udf(BINARY) body around ``pack``: a NULL-keyed row gets the
    4 junk bytes ``b"DEAD"``; a corrupt row gets the full payload with its
    first ``magic_len`` bytes overwritten — same length, broken magic."""
    import pandas as pd  # noqa: F811 — worker-local import

    def synth(p: pd.DataFrame) -> pd.Series:
        out: list[bytes] = []
        for params in p.to_dict("records"):
            if pd.isna(params["doc_id"]):
                out.append(b"DEAD")
                continue
            payload = pack(params)
            if params["corrupt"]:
                payload = b"X" * magic_len + payload[magic_len:]
            out.append(payload)
        return pd.Series(out)

    return synth


def synthesize(
    docs: DataFrame,
    pack: "Callable[[dict], bytes]",
    magic_len: int,
    extras: "tuple[str, ...]" = (),
    keep: "tuple[str, ...]" = (),
) -> DataFrame:
    """documents → (doc_id, *keep, payload binary): the real-bytes
    multimodal column. One Arrow-batched projection, no shuffle; ``keep``
    names parameters that ride along to the decoder."""
    synth_udf = F.pandas_udf(_synthesizer(pack, magic_len), "binary")
    return codec_params(docs, extras).select(
        "doc_id", *[F.col("p")[k].alias(k) for k in keep], synth_udf("p").alias("payload")
    )


#: pandas nullable dtype per DDL type: None must reach Arrow as NULL (a
#: plain float64 column would smuggle it through as NaN, which is NOT
#: SQL NULL on the Spark side).
_NULLABLE_DTYPES = {
    "bigint": "Int64",
    "int": "Int32",
    "double": "Float64",
    "boolean": "boolean",
    "string": "string",
}


def _decoder(
    rows_of: "Callable[..., list[dict]]", schema: str, kept: "list[str]"
) -> "Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]":
    """mapInPandas body around ``rows_of``: each payload yields the rows
    ``rows_of(payload_bytes, *kept_values)`` returns, each stamped with
    doc_id and the kept columns. A key a row lacks is NULL, ``[]`` drops
    the document, and a lone ``{"valid": False}`` is the error row — one
    bad object must never kill a 100 TB scan."""
    import pandas as pd  # noqa: F811 — worker-local import

    cols = [(f.split()[0], _NULLABLE_DTYPES[f.split()[1]]) for f in schema.split(", ")]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, payload, *vals in zip(
                pdf["doc_id"], pdf["payload"], *(pdf[k] for k in kept)
            ):
                b = bytes(payload) if payload is not None else b""
                stamp = {"doc_id": doc_id, **dict(zip(kept, vals))}
                rows.extend({**stamp, **r} for r in rows_of(b, *vals))
            yield pd.DataFrame(
                {n: pd.array([r.get(n) for r in rows], dtype=dt) for n, dt in cols}
            )

    return decode


def decode_payloads(
    payloads: DataFrame, rows_of: "Callable[..., list[dict]]", schema: str
) -> DataFrame:
    """(doc_id, *kept, payload) → ``schema`` rows, one mapInPandas. Every
    column besides doc_id and payload is passed to ``rows_of``."""
    kept = [c for c in payloads.columns if c not in ("doc_id", "payload")]
    return payloads.mapInPandas(_decoder(rows_of, schema, kept), schema=schema)


def _mean(a: "object") -> float:
    return float(np.asarray(a, dtype=np.float64).mean())


def _rms(x: "object") -> float:
    x = np.asarray(x, dtype=np.float64)
    return float(np.sqrt((x**2).mean())) if len(x) else 0.0


def _rgb(w: int, h: int, r: "object", g: "object", b: "object") -> "object":
    """h x w x 3 uint8 raster; each channel broadcasts (a scalar, a
    length-w row ramp, or an h x 1 column ramp)."""
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[:, :, 0], px[:, :, 1], px[:, :, 2] = r, g, b
    return px


def gradient_raster(p: dict) -> "object":
    """The PNG/BMP two-axis gradient — R ramps along x as (r_byte+x)%256,
    G constant, B ramps along y as (b_byte+y)%256 — so the horizontal
    (Sub/Paeth left) and vertical (Up/Paeth above) predictors all see
    non-constant input and channel means keep closed forms the oracle
    can state."""
    w, h = int(p["width"]), int(p["height"])
    return _rgb(
        w,
        h,
        (int(p["r_byte"]) + np.arange(w, dtype=np.int64)) % 256,
        int(p["g_byte"]),
        ((int(p["b_byte"]) + np.arange(h, dtype=np.int64)) % 256)[:, None],
    )


def encode_wav_pcm16(rate: int, samples: "list[int] | object") -> bytes:
    """Minimal-but-standard RIFF/WAVE container: 12-byte RIFF header,
    16+8-byte ``fmt `` chunk (PCM, mono, 16-bit), 8-byte ``data`` chunk
    header — 44 bytes total before the sample bytes."""
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    n = len(pcm)
    block_align = 2  # mono * 16-bit
    return b"".join(
        [
            b"RIFF",
            struct.pack("<I", 36 + n),
            b"WAVE",
            b"fmt ",
            struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * block_align, block_align, 16),
            b"data",
            struct.pack("<I", n),
            pcm,
        ]
    )


def encode_ppm_p6(width: int, height: int, raster: bytes) -> bytes:
    """netpbm P6: ASCII header (magic, width, height, maxval), one
    whitespace byte, then ``width*height*3`` binary RGB bytes."""
    return b"P6\n%d %d\n255\n" % (width, height) + raster


def decode_wav_pcm16(payload: bytes) -> "tuple[int, object] | None":
    """Real RIFF reader: verifies magic, then WALKS chunks (not fixed
    offsets — payloads with extra chunks such as ``LIST`` still parse),
    requiring a PCM16-mono ``fmt `` and a ``data`` chunk. Returns
    (sample_rate, int16 sample array) or None if undecodable."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt = data = None
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (size,) = struct.unpack("<I", payload[off + 4 : off + 8])
        body = payload[off + 8 : off + 8 + size]
        if len(body) < size:
            return None  # truncated chunk
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        off += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format, channels, rate, _byte_rate, _block_align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if audio_format != 1 or channels != 1 or bits != 16 or len(data) % 2:
        return None
    return rate, np.frombuffer(data, dtype="<i2")


def decode_ppm_p6(payload: bytes) -> "tuple[int, int, object] | None":
    """Real netpbm P6 parser: token-based header scan that honors
    ``#``-to-end-of-line comments between tokens (per the spec), exactly
    one whitespace byte after maxval, then the binary raster. Returns
    (width, height, HxWx3 uint8 array) or None if undecodable."""
    import numpy as np

    if payload[:2] != b"P6":
        return None
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":  # comment runs to end of line
            nl = payload.find(b"\n", pos)
            if nl < 0:
                return None
            pos = nl + 1
        elif c.isdigit():
            end = pos
            while end < len(payload) and payload[end : end + 1].isdigit():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
        else:
            return None
    if len(tokens) < 3 or pos >= len(payload) or not payload[pos : pos + 1].isspace():
        return None
    width, height, maxval = tokens
    pos += 1  # single whitespace byte terminates the header
    if maxval != 255 or width <= 0 or height <= 0:
        return None
    raster = payload[pos:]
    if len(raster) != width * height * 3:
        return None
    return width, height, np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)


def _pack_wav_ppm(p: dict) -> bytes:
    """WAV for even keys (a ±amp square wave, so RMS == amp exactly),
    PPM for odd keys (constant channels)."""
    if p["mime"] == "audio/wav":
        n, a = int(p["n_samples"]), int(p["amp"])
        wave = np.full(n, a, dtype="<i2")
        wave[1::2] = -a
        return encode_wav_pcm16(int(p["rate"]), wave)
    w, h = int(p["width"]), int(p["height"])
    px = _rgb(w, h, int(p["r_byte"]), int(p["g_byte"]), int(p["b_byte"]))
    return encode_ppm_p6(w, h, px.tobytes())


def _wav_ppm_rows(b: bytes, mime: "str | None") -> "list[dict]":
    """Dispatches on mime; RMS over the real samples, channel mean over
    the real raster; n_bytes on every row, error rows included."""
    row: dict = {"n_bytes": len(b), "valid": False}
    if mime == "audio/wav" and (wav := decode_wav_pcm16(b)) is not None:
        rate, samples = wav
        row.update(valid=True, sample_rate=rate, n_samples=len(samples), rms=_rms(samples))
    elif mime == "image/x-portable-pixmap" and (ppm := decode_ppm_p6(b)) is not None:
        w, h, raster = ppm
        row.update(valid=True, width=w, height=h, mean_r=_mean(raster[:, :, 0]))
    return [row]


@register(
    "multimodal_codec_decode",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         {_MIME}          AS mime,
         {_CORRUPT}       AS corrupt,
         {_RATE}          AS rate,
         {_N_SAMPLES}     AS n_samples,
         {_AMP}           AS amp,
         {_WIDTH}         AS width,
         {_HEIGHT}        AS height,
         {_R_BYTE}        AS r_byte
  FROM documents
)
SELECT doc_id,
       mime,
       -- payload size is part of the byte-exact contract:
       -- WAV = 44-byte header + 2 bytes/sample; PPM = "P6\\n{{w}} {{h}}\\n255\\n"
       -- (h is always 3..7 = one digit; w is 4..32 = 1-2 digits) + w*h*3;
       -- NULL-keyed rows carry the 4-byte junk payload
       CAST(CASE WHEN doc_id IS NULL THEN 4
                 WHEN mime = 'audio/wav' THEN 44 + n_samples * 2
                 ELSE 10 + (CASE WHEN width >= 10 THEN 2 ELSE 1 END) + width * height * 3
            END AS INTEGER)                                            AS n_bytes,
       coalesce(NOT corrupt, FALSE)                                    AS valid,
       CAST(CASE WHEN NOT corrupt AND mime = 'audio/wav' THEN rate END
            AS INTEGER)                                                AS sample_rate,
       CAST(CASE WHEN NOT corrupt AND mime = 'audio/wav' THEN n_samples END
            AS INTEGER)                                                AS n_samples,
       -- ±amp square wave → RMS is exactly amp (see module docstring)
       CAST(CASE WHEN NOT corrupt AND mime = 'audio/wav' THEN amp END
            AS DOUBLE)                                                 AS rms,
       CAST(CASE WHEN NOT corrupt AND mime LIKE 'image/%' THEN width END
            AS INTEGER)                                                AS width,
       CAST(CASE WHEN NOT corrupt AND mime LIKE 'image/%' THEN height END
            AS INTEGER)                                                AS height,
       -- constant-R raster → channel mean is exactly r_byte
       CAST(CASE WHEN NOT corrupt AND mime LIKE 'image/%' THEN r_byte END
            AS DOUBLE)                                                 AS mean_r
FROM p
""",
    tags=("multimodal", "codec", "wav", "ppm", "mapInPandas", "north-star"),
    doc=(
        "REAL multimodal decode, oracle-verified: rows synthesize actual "
        "RIFF/WAVE (PCM16) and PPM (P6) payloads from JVM-computed "
        "parameters, a chunk-walking/header-parsing decoder re-derives every "
        "feature from the bytes (RMS over real samples, channel mean over "
        "the real raster), and the oracle states the closed-form expected "
        "values — hash-green means encoder and decoder agree byte-for-byte "
        "with an independent model. Corrupt-magic rows (every 97th doc) "
        "must decode to valid=false + NULL features: the error-row policy "
        "is part of the verified contract, not a stub."
    ),
)
def multimodal_codec_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = synthesize(docs, _pack_wav_ppm, 4, WAV_EXTRAS, keep=("mime",))
    return decode_payloads(payloads, _wav_ppm_rows, DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# Real PNG (RFC 2083) — stdlib-only: zlib inflate/deflate, CRC-32-checked
# chunk walk, and all five scanline filter types including Paeth.
# ---------------------------------------------------------------------------

_PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

PNG_SCHEMA = (
    "doc_id bigint, valid boolean, width int, height int, "
    "raw_bytes int, n_filter_types int, mean_r double, mean_b double"
)


def _paeth(a: int, b: int, c: int) -> int:
    """RFC 2083 §6.6 Paeth predictor (verbatim pseudocode transcription)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanline(ftype: int, row: bytes, prior: bytes, bpp: int = 3) -> bytes:
    """Apply filter ``ftype`` (0..4) to one raw scanline. Byte-at-a-time
    on purpose: payloads here are tiny and the per-byte recurrence is the
    spec's own formulation (at 100 TB you swap in a real imaging lib —
    see the module docstring's swap-in note)."""
    out = bytearray(len(row))
    for x in range(len(row)):
        a = row[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        if ftype == 0:
            v = row[x]
        elif ftype == 1:
            v = row[x] - a
        elif ftype == 2:
            v = row[x] - b
        elif ftype == 3:
            v = row[x] - (a + b) // 2
        else:
            v = row[x] - _paeth(a, b, c)
        out[x] = v & 0xFF
    return bytes(out)


def _unfilter_scanline(
    ftype: int, data: bytes, prior: bytes, bpp: int = 3
) -> "bytes | None":
    """Invert one scanline filter; None on an unknown filter type. The
    Sub/Average/Paeth recurrences read RECONSTRUCTED left bytes, so the
    loop is inherently sequential along x."""
    if ftype > 4:
        return None
    out = bytearray(len(data))
    for x in range(len(data)):
        a = out[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        if ftype == 0:
            v = data[x]
        elif ftype == 1:
            v = data[x] + a
        elif ftype == 2:
            v = data[x] + b
        elif ftype == 3:
            v = data[x] + (a + b) // 2
        else:
            v = data[x] + _paeth(a, b, c)
        out[x] = v & 0xFF
    return bytes(out)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png_rgb8(
    width: int, height: int, raster: "object", filter_base: int = 0
) -> bytes:
    """Real PNG writer: signature, IHDR (8-bit RGB, no interlace), one
    zlib-deflated IDAT of filtered scanlines (row y filtered with type
    ``(filter_base + y) % 5``), IEND. Every chunk carries its CRC-32."""
    import numpy as np
    import zlib

    px = np.asarray(raster, dtype=np.uint8).reshape(height, width, 3)
    raw = bytearray()
    prior = bytes(width * 3)
    for y in range(height):
        row = px[y].tobytes()
        ftype = (filter_base + y) % 5
        raw.append(ftype)
        raw += _filter_scanline(ftype, row, prior)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return b"".join(
        [
            _PNG_SIGNATURE,
            _png_chunk(b"IHDR", ihdr),
            _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6)),
            _png_chunk(b"IEND", b""),
        ]
    )


def decode_png_rgb8(payload: bytes) -> "tuple[int, int, object, int] | None":
    """Real PNG reader: signature check, CRC-32-verified chunk walk
    (multiple IDAT chunks concatenate per spec), IHDR validation (8-bit
    RGB, deflate, no interlace), zlib inflate, and per-scanline
    unfiltering of all five RFC 2083 filter types. Returns
    (width, height, HxWx3 uint8 raster, distinct filter-type count) or
    None for anything undecodable — one bad object must never kill a
    100 TB scan."""
    import numpy as np
    import zlib

    if payload[:8] != _PNG_SIGNATURE:
        return None
    ihdr = None
    idat = bytearray()
    ended = False
    off = 8
    while off + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[off : off + 4])
        ctype = payload[off + 4 : off + 8]
        # bound check covers data AND the trailing CRC word: a payload cut
        # inside the CRC must be a clean None, not a struct.error (fuzz
        # find: truncation between data end and CRC end crashed here)
        if off + 12 + length > len(payload):
            return None  # truncated chunk
        data = payload[off + 8 : off + 8 + length]
        (crc,) = struct.unpack(">I", payload[off + 8 + length : off + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None  # corrupt chunk body or header
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            ended = True
            break
        off += 12 + length
    if ihdr is None or not ended or len(ihdr) != 13:
        return None
    width, height, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or color != 2 or comp or filt or interlace or not width or not height:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = width * 3
    if len(raw) != height * (1 + stride):
        return None
    rows: list[bytes] = []
    prior = bytes(stride)
    filters: set[int] = set()
    for y in range(height):
        base = y * (1 + stride)
        rec = _unfilter_scanline(raw[base], raw[base + 1 : base + 1 + stride], prior)
        if rec is None:
            return None  # unknown filter type
        filters.add(raw[base])
        rows.append(rec)
        prior = rec
    raster = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(height, width, 3)
    return width, height, raster, len(filters)


def _pack_png(p: dict) -> bytes:
    return encode_png_rgb8(
        int(p["width"]), int(p["height"]), gradient_raster(p), filter_base=int(p["f_base"])
    )


def _png_rows(b: bytes) -> "list[dict]":
    png = decode_png_rgb8(b)
    if png is None:
        return [{"valid": False}]
    w, h, raster, n_filters = png
    return [
        dict(
            valid=True,
            width=w,
            height=h,
            raw_bytes=h * (1 + w * 3),
            n_filter_types=n_filters,
            mean_r=_mean(raster[:, :, 0]),
            mean_b=_mean(raster[:, :, 2]),
        )
    ]


@register(
    "multimodal_codec_png",
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
       -- inflated IDAT length: per row one filter byte + width*3 raster bytes
       CAST(CASE WHEN NOT corrupt THEN height * (1 + width * 3) END
            AS INTEGER)                                                AS raw_bytes,
       -- scanline y uses filter (base + y) % 5 → distinct count is
       -- least(height, 5) regardless of the per-doc phase
       CAST(CASE WHEN NOT corrupt THEN least(height, 5) END
            AS INTEGER)                                                AS n_filter_types,
       -- R ramps along x: mean over the raster == mean over one row.
       -- Closed form of sum((r_byte + x) % 256, x = 0..w-1): the ramp
       -- r_byte..r_byte+w-1 wraps AT MOST ONCE (r_byte <= 255, w <= 33),
       -- so exactly greatest(0, r_byte + w - 256) terms lose 256.
       -- Exact in float64: integer numerator < 2^53, one correctly-
       -- rounded division of the same rational on both engines.
       CAST(CASE WHEN NOT corrupt THEN
              (width * r_byte + (width * (width - 1)) // 2
               - 256 * greatest(0, r_byte + width - 256))
              / CAST(width AS DOUBLE) END
            AS DOUBLE)                                                 AS mean_r,
       -- B ramps along y: mean over the raster == mean over one column
       CAST(CASE WHEN NOT corrupt THEN
              (height * b_byte + (height * (height - 1)) // 2
               - 256 * greatest(0, b_byte + height - 256))
              / CAST(height AS DOUBLE) END
            AS DOUBLE)                                                 AS mean_b
FROM p
""",
    tags=("multimodal", "codec", "png", "paeth", "mapInPandas", "north-star"),
    doc=(
        "REAL PNG codec, oracle-verified: rows synthesize actual RFC 2083 "
        "PNGs (zlib-deflated IDAT, CRC-32 per chunk, scanlines cycling "
        "through all five filter types incl. Paeth) from JVM-computed "
        "parameters over a two-axis gradient raster; the decoder walks "
        "chunks with CRC verification, inflates, unfilters every scanline, "
        "and re-derives geometry, filter coverage, and channel means from "
        "the reconstructed raster, which the oracle states in closed form. "
        "Corrupt-signature rows (every 97th doc) must decode to "
        "valid=false + NULL features — same error-row contract as "
        "multimodal_codec_decode."
    ),
)
def multimodal_codec_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return decode_payloads(synthesize(docs, _pack_png, 4, ("f_base",)), _png_rows, PNG_SCHEMA)


def _frame_rows(b: bytes) -> "list[dict]":
    """Real audio framing: the PCM sliced into FRAME_SAMPLES-sample
    windows (last frame ragged) with per-frame RMS — the 1-to-N explode
    shape of real feature extraction. Undecodable payloads emit nothing
    (the decode spec owns error accounting)."""
    wav = decode_wav_pcm16(b)
    if wav is None:
        return []
    x = wav[1]
    return [
        dict(
            frame_idx=i // FRAME_SAMPLES,
            frame_samples=len(x[i : i + FRAME_SAMPLES]),
            frame_rms=_rms(x[i : i + FRAME_SAMPLES]),
        )
        for i in range(0, max(len(x), 1), FRAME_SAMPLES)
    ]


@register(
    "multimodal_codec_frames",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         {_N_SAMPLES}                 AS n_samples,
         CAST({_AMP} AS DOUBLE)       AS amp
  FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 2 = 0 AND NOT {_CORRUPT}
)
SELECT p.doc_id,
       CAST(f.i AS INTEGER) AS frame_idx,
       -- last frame is ragged: n_samples ∈ [64, 254] under 32-sample frames
       CAST(CASE WHEN f.i < (p.n_samples - 1) // {FRAME_SAMPLES}
                 THEN {FRAME_SAMPLES}
                 ELSE p.n_samples - {FRAME_SAMPLES} * ((p.n_samples - 1) // {FRAME_SAMPLES})
            END AS INTEGER) AS frame_samples,
       -- every frame of a ±amp square wave has RMS exactly amp
       p.amp                AS frame_rms
FROM p JOIN generate_series(0, {_MAX_FRAME_IDX}) AS f(i)
  ON f.i <= (p.n_samples - 1) // {FRAME_SAMPLES}
""",
    tags=("multimodal", "codec", "frames", "audio", "mapInPandas", "north-star"),
    doc=(
        "Real audio frame extraction, oracle-verified: decodes the WAV "
        "payload and slices the PCM into 32-sample frames with per-frame "
        "RMS — the 1-to-N feature-extraction shape computed from actual "
        "bytes. The oracle derives frame count/sizes from the synthesis "
        "arithmetic and the square-wave RMS identity. Valid WAV rows "
        "only: framing is the decoded-payload path; error accounting "
        "belongs to multimodal_codec_decode."
    ),
)
def multimodal_codec_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(
        F.expr(f"doc_id IS NOT NULL AND doc_id % 2 = 0 AND NOT {_CORRUPT}")
    )
    payloads = synthesize(docs, _pack_wav_ppm, 4, WAV_EXTRAS)
    return decode_payloads(payloads, _frame_rows, FRAME_SCHEMA)
