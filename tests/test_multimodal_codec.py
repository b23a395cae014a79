"""Real WAV/PPM codec tests: parser robustness a hash-green oracle
verdict alone can't prove — chunk walking past foreign chunks, comment-
aware PPM headers, byte-tamper detection, and the plan shape (scan →
two Arrow stages, shuffle-free)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from spark_kinesis_article_analysis_spark.functions.multimodal_codec import (
    FRAME_SAMPLES,
    _filter_scanline,
    _unfilter_scanline,
    decode_png_rgb8,
    decode_ppm_p6,
    decode_wav_pcm16,
    encode_png_rgb8,
    encode_ppm_p6,
    encode_wav_pcm16,
)
from spark_kinesis_article_analysis_spark.plans import inspect
from spark_kinesis_article_analysis_spark.registry import all_specs
from tests.conftest import SF_SMOKE

SPECS = all_specs()


class TestWavCodec:
    def test_round_trip(self):
        samples = [100, -100, 250, 0, -32768, 32767]
        rate, got = decode_wav_pcm16(encode_wav_pcm16(22050, samples))
        assert rate == 22050
        assert got.tolist() == samples

    def test_header_is_exactly_44_bytes(self):
        assert len(encode_wav_pcm16(8000, [])) == 44

    def test_chunk_walk_skips_foreign_chunks(self):
        """A LIST chunk inserted BEFORE fmt/data must not break the read —
        proves the reader walks the chunk list instead of assuming the
        44-byte layout it happens to write."""
        wav = encode_wav_pcm16(8000, [5, -5, 5])
        body = wav[12:]
        foreign = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
        riff = b"RIFF" + (4 + len(foreign) + len(body)).to_bytes(4, "little") + b"WAVE"
        rate, got = decode_wav_pcm16(riff + foreign + body)
        assert rate == 8000 and got.tolist() == [5, -5, 5]

    def test_odd_sized_chunk_word_alignment(self):
        """RIFF pads odd-sized chunks to word boundaries; the walker must
        step over the pad byte to find later chunks."""
        wav = encode_wav_pcm16(8000, [7, -7])
        odd = b"JUNK" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # 3 bytes + pad
        body = wav[12:]
        riff = b"RIFF" + (4 + len(odd) + len(body)).to_bytes(4, "little") + b"WAVE"
        rate, got = decode_wav_pcm16(riff + odd + body)
        assert rate == 8000 and got.tolist() == [7, -7]

    @pytest.mark.parametrize(
        "mutate",
        [
            lambda b: b"DEAD" + b[4:],              # smashed RIFF magic
            lambda b: b[:8] + b"XXXX" + b[12:],     # smashed WAVE id
            lambda b: b[:20] + b"\x02\x00" + b[22:],  # stereo (unsupported)
            lambda b: b[:-1],                       # truncated data chunk
        ],
    )
    def test_tampered_payloads_return_none(self, mutate):
        wav = encode_wav_pcm16(16000, [1, 2, 3, 4])
        assert decode_wav_pcm16(mutate(wav)) is None

    def test_square_wave_rms_is_exactly_amp(self):
        amp = 1099  # the synthesis maximum
        wave = np.full(253, amp, dtype="<i2")
        wave[1::2] = -amp
        _, got = decode_wav_pcm16(encode_wav_pcm16(8000, wave))
        x = got.astype(np.float64)
        assert float(np.sqrt((x**2).mean())) == float(amp)  # exact, not approx


class TestPpmCodec:
    def test_round_trip(self):
        raster = bytes(range(24))  # 2x4 RGB
        w, h, got = decode_ppm_p6(encode_ppm_p6(4, 2, raster))
        assert (w, h) == (4, 2)
        assert got.tobytes() == raster

    def test_comment_aware_header(self):
        """'#' comments between header tokens are legal netpbm — a real
        parser must skip them (the synthesizer never writes them, so this
        only passes if the parse is genuinely token-based)."""
        raster = bytes(6)
        payload = b"P6 # comment\n2 # width\n 1\n# maxval next\n255\n" + raster
        w, h, got = decode_ppm_p6(payload)
        assert (w, h) == (2, 1) and got.shape == (1, 2, 3)

    @pytest.mark.parametrize(
        "payload",
        [
            b"P5\n1 1\n255\n\x00\x00\x00",      # wrong magic (P5 is grayscale)
            b"P6\n2 1\n255\n\x00\x00\x00",      # raster shorter than w*h*3
            b"P6\n1 1\n65535\n\x00\x00\x00",    # 16-bit maxval unsupported
            b"P6\n1 1\n255",                    # header never terminates
            b"P6\n-1 1\n255\n",                 # non-digit token
        ],
    )
    def test_malformed_headers_return_none(self, payload):
        assert decode_ppm_p6(payload) is None


def _rfc2083_filter_model(ftype: int, row: bytes, prior: bytes, bpp: int = 3) -> bytes:
    """Independent per-RFC-2083-pseudocode filter model for the
    differential tests below — deliberately a SEPARATE transcription of
    the spec from the codec's implementation, so a shared filter/unfilter
    bug (which a round trip alone cancels out) still fails here."""
    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        elif pb <= pc:
            return b
        return c

    out = []
    for x, raw in enumerate(row):
        left = row[x - bpp] if x >= bpp else 0
        up = prior[x]
        upleft = prior[x - bpp] if x >= bpp else 0
        pred = {
            0: 0,
            1: left,
            2: up,
            3: (left + up) // 2,
            4: paeth(left, up, upleft),
        }[ftype]
        out.append((raw - pred) % 256)
    return bytes(out)


class TestPngCodec:
    def test_round_trip_random_raster_all_filter_phases(self):
        rng = np.random.default_rng(42)
        for w, h in [(1, 1), (4, 3), (32, 7), (5, 6)]:
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            for base in range(5):
                dec = decode_png_rgb8(encode_png_rgb8(w, h, px, filter_base=base))
                assert dec is not None
                got_w, got_h, raster, n_filters = dec
                assert (got_w, got_h) == (w, h)
                assert np.array_equal(raster, px)
                assert n_filters == min(h, 5)

    def test_filters_match_independent_rfc_model(self):
        """Differential: the codec's filter output must equal a separate
        transcription of RFC 2083's pseudocode on random scanlines — the
        check a filter/unfilter round trip cannot provide."""
        rng = np.random.default_rng(7)
        for _ in range(20):
            n = int(rng.integers(3, 64)) * 3
            row = bytes(rng.integers(0, 256, n, dtype=np.uint8))
            prior = bytes(rng.integers(0, 256, n, dtype=np.uint8))
            for ftype in range(5):
                assert _filter_scanline(ftype, row, prior) == _rfc2083_filter_model(
                    ftype, row, prior
                ), f"filter type {ftype} diverges from the RFC model"
                # and unfilter inverts the MODEL's output, not just our own
                assert _unfilter_scanline(
                    ftype, _rfc2083_filter_model(ftype, row, prior), prior
                ) == row

    def test_multiple_idat_chunks_concatenate(self):
        """The spec allows the compressed stream split across IDAT chunks;
        the reader must concatenate before inflating."""
        import struct
        import zlib

        px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(3, 2, 3)
        payload = encode_png_rgb8(2, 3, px)
        # locate the single IDAT and split its data into two chunks
        off = 8 + 12 + 13  # signature + IHDR chunk
        (length,) = struct.unpack(">I", payload[off : off + 4])
        data = payload[off + 8 : off + 8 + length]
        mid = length // 2
        def chunk(d: bytes) -> bytes:
            return (
                struct.pack(">I", len(d))
                + b"IDAT"
                + d
                + struct.pack(">I", zlib.crc32(b"IDAT" + d) & 0xFFFFFFFF)
            )

        rebuilt = (
            payload[: off] + chunk(data[:mid]) + chunk(data[mid:])
            + payload[off + 12 + length :]
        )
        dec = decode_png_rgb8(rebuilt)
        assert dec is not None and np.array_equal(dec[2], px)

    @pytest.mark.parametrize(
        "mutate",
        [
            lambda b: b"DEAD" + b[4:],            # smashed signature
            lambda b: b[:-1],                     # truncated IEND
            lambda b: b[:40] + bytes([b[40] ^ 0xFF]) + b[41:],  # CRC-caught flip
            lambda b: b[:16] + b"\x10" + b[17:],  # 16-bit depth unsupported (CRC)
            lambda b: b"DEAD",                    # junk payload
        ],
    )
    def test_tampered_payloads_return_none(self, mutate):
        px = np.zeros((3, 4, 3), dtype=np.uint8)
        assert decode_png_rgb8(mutate(encode_png_rgb8(4, 3, px))) is None

    def test_unknown_filter_type_rejected(self):
        import struct
        import zlib

        raw = bytes([5]) + bytes(3)  # filter type 5 does not exist
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
        def chunk(t: bytes, d: bytes) -> bytes:
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert decode_png_rgb8(payload) is None


#: The eight oracle-backed codec specs -> the feature columns an error
#: row must leave NULL.
CODEC_FEATURES = {
    "multimodal_codec_decode": ("sample_rate", "n_samples", "rms", "width", "height", "mean_r"),
    "multimodal_codec_png": ("width", "height", "raw_bytes", "n_filter_types", "mean_r", "mean_b"),
    "multimodal_codec_frames": ("frame_idx", "frame_samples", "frame_rms"),
    "multimodal_codec_bmp": ("width", "height", "row_stride", "file_size", "mean_r", "mean_b"),
    "multimodal_codec_gif": ("width", "height", "n_pixels", "palette_size", "mean_r", "mean_b"),
    "multimodal_codec_jpeg": ("width", "height", "n_blocks_x", "mean_luma"),
    "multimodal_codec_avi_frames": ("frame_idx", "width", "height", "n_frames", "mean_r"),
    "multimodal_resize_nearest": ("out_width", "out_height", "mean_r", "mean_b"),
}

#: Hostile keys: a NULL key, corrupt keys (multiples of 97, both signs),
#: and ordinary keys of both parities, some with NULL n_chars.
_HOSTILE_DOCS = [(None, 5), (0, 0), (97, None), (-194, 17), (2**40 * 97, 3)] + [
    (k, None if k % 7 == 0 else k * 13) for k in range(-9, 21) if k % 97
]


@pytest.fixture(scope="module")
def hostile_docs(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("codec_hostile_docs")
    n = len(_HOSTILE_DOCS)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([k for k, _ in _HOSTILE_DOCS], pa.int64()),
                "text": pa.array([None] * n, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["hostile"] * n, pa.string()),
                "n_chars": pa.array([c for _, c in _HOSTILE_DOCS], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    return str(d)


class TestCodecSpecs:
    @pytest.mark.parametrize("name", sorted(CODEC_FEATURES))
    def test_error_rows_are_null_not_fatal(self, spark, hostile_docs, name):
        """Corrupt-magic (every 97th key) and NULL-keyed docs keep exactly
        one row with valid=false and every feature NULL — never raise,
        never drop — except the WAV framing spec, which emits no row for
        them (the decode spec owns error accounting)."""
        df = SPECS[name].build(spark, hostile_docs).toPandas()
        bad_keys = [k for k, _ in _HOSTILE_DOCS if k is None or k % 97 == 0]
        is_bad = df["doc_id"].isna() | (df["doc_id"].fillna(1) % 97 == 0)
        bad, good = df[is_bad], df[~is_bad]
        assert len(good) > 0
        if name == "multimodal_codec_frames":
            assert bad.empty, bad
            return
        assert len(bad) == len(bad_keys), bad
        assert bad["doc_id"].isna().sum() == 1
        assert (~bad["valid"].astype(bool)).all()
        for c in CODEC_FEATURES[name]:
            assert bad[c].isna().all(), f"{name}: corrupt rows must have NULL {c}"
        assert good["valid"].astype(bool).all()

    @staticmethod
    def _assert_scan_plus_arrow_stages_no_shuffle(spark, name):
        """Scale shape: parquet scan pruned to the two key columns, one
        ArrowEvalPython (synth) + one MapInPandas (decode), zero
        exchanges — embarrassingly parallel at any partition count."""
        df = SPECS[name].build(spark, SF_SMOKE)
        assert inspect.count_exchanges(df) == 0, inspect.explain_str(df)
        cols = inspect.read_schema_columns(df)
        assert set(cols) == {"doc_id", "n_chars"}, cols
        plan = inspect.explain_str(df)
        assert "ArrowEvalPython" in plan and "MapInPandas" in plan, plan

    def test_plan_is_scan_plus_arrow_stages_no_shuffle(self, spark):
        self._assert_scan_plus_arrow_stages_no_shuffle(spark, "multimodal_codec_decode")

    def test_png_plan_is_scan_plus_arrow_stages_no_shuffle(self, spark):
        self._assert_scan_plus_arrow_stages_no_shuffle(spark, "multimodal_codec_png")

    def test_frames_plan_no_shuffle(self, spark):
        self._assert_scan_plus_arrow_stages_no_shuffle(spark, "multimodal_codec_frames")

    @pytest.mark.parametrize(
        "name",
        sorted(
            set(CODEC_FEATURES)
            - {"multimodal_codec_decode", "multimodal_codec_png", "multimodal_codec_frames"}
        ),
    )
    def test_other_codec_plans_are_scan_plus_arrow_stages_no_shuffle(self, spark, name):
        self._assert_scan_plus_arrow_stages_no_shuffle(spark, name)

    def test_smoke_corpus_corruption_is_the_exception(self, spark):
        df = SPECS["multimodal_codec_decode"].build(spark, SF_SMOKE).toPandas()
        bad = df[~df["valid"]]
        assert len(bad) > 0, "corrupt rows missing from the smoke corpus"
        assert len(df[df["valid"]]) > len(bad)

    def test_png_tall_payloads_use_all_five_filters(self, spark):
        """Every valid payload tall enough must have exercised all 5 filters."""
        df = SPECS["multimodal_codec_png"].build(spark, SF_SMOKE).toPandas()
        tall = df[df["valid"] & (df["height"] >= 5)]
        assert len(tall) > 0 and (tall["n_filter_types"] == 5).all()

    def test_frames_cover_all_samples(self, spark):
        """Per-doc frame sizes must sum to the decoded sample count and
        frame indexes must be gapless — the framing loop loses nothing."""
        dec = SPECS["multimodal_codec_decode"].build(spark, SF_SMOKE).toPandas()
        fr = SPECS["multimodal_codec_frames"].build(spark, SF_SMOKE).toPandas()
        want = dec[dec["valid"] & (dec["mime"] == "audio/wav")].set_index("doc_id")[
            "n_samples"
        ]
        got = fr.groupby("doc_id")["frame_samples"].sum()
        assert got.sort_index().astype("int64").equals(
            want.sort_index().astype("int64")
        )
        for _, g in fr.groupby("doc_id"):
            idx = sorted(g["frame_idx"])
            assert idx == list(range(len(idx)))
            assert (g["frame_samples"] <= FRAME_SAMPLES).all()


class TestPngFuzz:
    """Generative round-trip coverage for the PNG codec (the rotation's
    TestCodecFuzz counterpart for this format)."""

    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 8),
        base=st.integers(0, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=40, deadline=None)
    def test_round_trip_is_identity(self, w, h, base, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        dec = decode_png_rgb8(encode_png_rgb8(w, h, px, filter_base=base))
        assert dec is not None
        got_w, got_h, raster, _ = dec
        assert (got_w, got_h) == (w, h) and np.array_equal(raster, px)

    @given(
        cut=st.integers(1, 60),
        seed=st.integers(0, 2**31 - 1),
    )
    # pinned fuzz find: a cut landing INSIDE a chunk's trailing CRC word
    # (13..16 bytes from the end = IDAT's CRC here) crashed the chunk walk
    # with struct.error instead of returning None
    @example(cut=13, seed=0)
    @example(cut=16, seed=0)
    @settings(max_examples=25, deadline=None)
    def test_truncation_never_raises(self, cut, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
        payload = encode_png_rgb8(4, 4, px)
        trunc = payload[: max(0, len(payload) - cut)]
        assert decode_png_rgb8(trunc) is None  # never a crash, never a partial

    @given(pos=st.integers(0, 200), seed=st.integers(0, 2**31 - 1))
    @settings(max_examples=40, deadline=None)
    def test_single_byte_flip_never_decodes_wrong_pixels(self, pos, seed):
        """CRC-32 must catch ANY single-byte corruption (signature flips
        fail the magic check instead): the decode either returns None or
        — if the flip missed the payload entirely — the original raster."""
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)
        payload = bytearray(encode_png_rgb8(5, 3, px))
        pos %= len(payload)
        payload[pos] ^= 0x5A
        dec = decode_png_rgb8(bytes(payload))
        assert dec is None or np.array_equal(dec[2], px)
