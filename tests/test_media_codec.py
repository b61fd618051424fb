"""Header-codec unit tests: parsers must invert the builders AND
survive structures the builders never emit (extra segments/chunks/
boxes, color tables, truncation, garbage) — a real-world file is not a
fixture."""

from __future__ import annotations

import struct

import pytest

from unitdb_spark.functions.media_codec import (
    build_gif,
    build_jpeg,
    build_mp4,
    build_png,
    build_wav,
    parse_media,
)
from unitdb_spark.functions import media_codec as mc

_PAL = [((i * 3) % 256, (i * 7) % 256, (i * 11) % 256) for i in range(256)]

# every nearest-neighbor resize kernel: name -> (encode an (h, w, 3)
# uint8 image into the kernel's input format, kernel, decode its output)
RESIZE_KERNELS = {
    "bmp": (mc.encode_bmp24, mc.resize_bmp24_nearest, mc.decode_bmp24),
    "png": (
        lambda a: mc.encode_png_rgb(a, [(y * 2) % 5 for y in range(a.shape[0])]),
        mc.resize_png_nearest,
        mc.decode_png_rgb,
    ),
    "png_adam7": (
        mc.encode_png_rgb_adam7,
        mc.resize_png_adam7_nearest,
        mc.decode_png_rgb_any,
    ),
    "gif": (
        lambda a: mc.encode_gif_indexed(a[..., 0].copy(), _PAL),
        mc.resize_gif_nearest,
        mc.decode_gif_rgb,
    ),
    "jpeg": (
        lambda a: mc.encode_jpeg_baseline(a, quant=8),
        mc.resize_jpeg_nearest_png,
        mc.decode_png_rgb,
    ),
    "jpeg_prog": (
        lambda a: mc.encode_jpeg_progressive(a, quant=8),
        mc.resize_jpeg_any_nearest_png,
        mc.decode_png_rgb,
    ),
    "tiff": (
        lambda a: mc.encode_tiff_rgb(a, little_endian=False),
        mc.resize_tiff_nearest,
        mc.decode_tiff_rgb,
    ),
}


@pytest.mark.parametrize("width,height", [(0, 4), (4, 0), (-2, 4)])
@pytest.mark.parametrize("name", sorted(RESIZE_KERNELS))
def test_resize_kernel_nonpositive_target_is_null(name, width, height):
    """A target with no pixels is the NULL-blob honest failure for
    every kernel — never an empty blob the decoders then reject."""
    import numpy as np

    encode, kernel, decode = RESIZE_KERNELS[name]
    b = encode(np.full((16, 16, 3), 100, dtype=np.uint8))
    assert decode(kernel(b, 4, 3)).shape[:2] == (3, 4)  # the input is claimed
    assert kernel(b, width, height) is None


class TestRoundTrip:
    @pytest.mark.parametrize("w,h,extra", [(1, 1, 0), (640, 480, 63), (16, 4096, 7)])
    def test_png(self, w, h, extra):
        m = parse_media(build_png(w, h, extra))
        assert (m["container"], m["width"], m["height"], m["n_frames"]) == ("png", w, h, 1)
        assert m["sample_rate"] is None and m["duration_s"] is None

    @pytest.mark.parametrize("w,h", [(16, 16), (320, 240), (65500, 1)])
    def test_jpeg(self, w, h):
        m = parse_media(build_jpeg(w, h, 11))
        assert (m["container"], m["width"], m["height"]) == ("jpeg", w, h)

    @pytest.mark.parametrize("frames", [1, 2, 4])
    def test_gif_counts_frames(self, frames):
        m = parse_media(build_gif(100, 50, frames))
        assert (m["container"], m["width"], m["height"], m["n_frames"]) == (
            "gif", 100, 50, frames,
        )

    @pytest.mark.parametrize("sr,n", [(8000, 100), (16000, 4099), (44100, 44100)])
    def test_wav_duration_exact(self, sr, n):
        m = parse_media(build_wav(sr, n))
        assert m["container"] == "wav" and m["sample_rate"] == sr
        # duration = data_len / (sr * block_align), one IEEE division
        assert m["duration_s"] == (2 * n) / float(2 * sr)
        assert m["width"] is None and m["n_frames"] is None

    def test_mp4(self):
        m = parse_media(build_mp4(1920, 1080, 90500, 299))
        assert (m["container"], m["width"], m["height"], m["n_frames"]) == (
            "mp4", 1920, 1080, 299,
        )
        assert m["duration_s"] == 90.5


class TestRobustness:
    def test_garbage_and_empty(self):
        for b in (b"", b"garbage", b"\x00" * 64, None):
            m = parse_media(b)
            assert m["container"] is None and m["width"] is None

    def test_truncated_blobs_do_not_raise(self):
        for build in (
            lambda: build_png(9, 9, 5),
            lambda: build_jpeg(9, 9, 5),
            lambda: build_gif(9, 9, 2),
            lambda: build_wav(8000, 10),
            lambda: build_mp4(9, 9, 1000, 1),
        ):
            blob = build()
            for cut in range(0, len(blob), 7):
                parse_media(blob[:cut])  # must never raise

    def test_jpeg_skips_leading_segments(self):
        """SOF found after APP0 + a fat COM segment (marker walk, not a
        fixed offset)."""
        j = build_jpeg(77, 33, 0)
        com = b"\xff\xfe" + struct.pack(">H", 130) + b"x" * 128
        patched = j[:2] + com + j[2:]
        m = parse_media(patched)
        assert (m["width"], m["height"]) == (77, 33)

    def test_gif_with_global_color_table_and_extension(self):
        """GCT and a graphic-control extension sit before the image
        descriptor — the block walk must skip both."""
        g = bytearray(build_gif(31, 17, 1))
        g[10] |= 0x80  # declare a GCT of size 2 << 0 = 2 entries
        gct = bytes(6)
        gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        patched = bytes(g[:13]) + gct + gce + bytes(g[13:])
        m = parse_media(patched)
        assert (m["width"], m["height"], m["n_frames"]) == (31, 17, 1)

    def test_wav_with_list_chunk_before_data(self):
        """RIFF chunk walk: a LIST metadata chunk (odd length → padded)
        between fmt and data must not derail sample_rate/duration."""
        w = build_wav(22050, 50)
        fmt_end = 12 + 8 + 16
        lst = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
        patched = w[:fmt_end] + lst + w[fmt_end:]
        m = parse_media(patched)
        assert m["sample_rate"] == 22050
        assert m["duration_s"] == 100 / float(2 * 22050)

    def test_mp4_with_unknown_boxes(self):
        """Unknown top-level (free) and unknown moov-child boxes are
        skipped by size, not parsed."""
        m4 = build_mp4(64, 48, 2000, 10)
        free = struct.pack(">I", 16) + b"free" + b"\x00" * 8
        # insert 'free' between ftyp (24 bytes) and moov
        patched = m4[:24] + free + m4[24:]
        m = parse_media(patched)
        assert (m["width"], m["height"], m["n_frames"], m["duration_s"]) == (
            64, 48, 10, 2.0,
        )

    def test_png_crc_is_real(self):
        import zlib

        p = build_png(10, 20, 3)
        # IHDR CRC covers type+payload and verifies
        assert struct.unpack(">I", p[29:33])[0] == zlib.crc32(p[12:29]) & 0xFFFFFFFF


class TestFuzz:
    """parse_media's contract is total: ANY byte string yields a dict,
    never an exception — pinned here with hypothesis (pure Python, no
    Spark job per example, so examples are cheap)."""

    from hypothesis import given, settings, strategies as st

    @given(st.binary(max_size=512))
    @settings(max_examples=300, deadline=None)
    def test_arbitrary_bytes_never_raise(self, data):
        m = parse_media(data)
        assert set(m) == {
            "container", "width", "height", "n_frames", "sample_rate", "duration_s"
        }

    @given(
        st.sampled_from(["png", "jpeg", "gif", "wav", "mp4"]),
        st.integers(min_value=0, max_value=400),
        st.binary(min_size=1, max_size=4),
    )
    @settings(max_examples=200, deadline=None)
    def test_mutated_valid_containers_never_raise(self, kind, pos, patch):
        blob = {
            "png": lambda: build_png(33, 44, 9),
            "jpeg": lambda: build_jpeg(33, 44, 9),
            "gif": lambda: build_gif(33, 44, 2),
            "wav": lambda: build_wav(8000, 64),
            "mp4": lambda: build_mp4(33, 44, 1500, 7),
        }[kind]()
        pos = pos % len(blob)
        mutated = blob[:pos] + patch + blob[pos + len(patch):]
        parse_media(mutated)  # total: parses or returns None fields


def test_wav_fmt_chunk_claiming_more_than_blob_holds_is_null():
    """A 'fmt ' header that claims clen>=16 on a blob truncated before
    the chunk body must return None, not raise struct.error (corrupt
    media is data, not a task failure)."""
    from struct import pack

    from unitdb_spark.functions.media_codec import parse_media, parse_wav

    b = (
        b"RIFF" + pack("<I", 100) + b"WAVE"
        + b"JUNK" + pack("<I", 20) + b"\0" * 20
        + b"fmt " + pack("<I", 16) + b"\0\0"
    )
    assert len(b) >= 44
    assert parse_wav(b) is None
    assert parse_media(b)["container"] is None


def test_wav_zero_sample_rate_is_null_not_division_error():
    from struct import pack

    from unitdb_spark.functions.media_codec import parse_media, parse_wav

    b = (
        b"RIFF" + pack("<I", 36) + b"WAVE"
        + b"fmt " + pack("<I", 16)
        + pack("<HHIIHH", 1, 1, 0, 0, 2, 16)   # sample_rate = 0
        + b"data" + pack("<I", 4) + b"\0\0\0\0"
    )
    assert parse_wav(b) is None
    assert parse_media(b)["container"] is None


class TestExtendedCodecs:
    def test_bmp_roundtrip(self):
        from unitdb_spark.functions.media_codec import build_bmp, parse_media

        m = parse_media(build_bmp(640, 480, 100))
        assert m["container"] == "bmp" and (m["width"], m["height"]) == (640, 480)
        assert m["n_frames"] == 1 and m["sample_rate"] is None

    def test_bmp_topdown_negative_height(self):
        import struct

        from unitdb_spark.functions.media_codec import build_bmp, parse_media

        b = bytearray(build_bmp(10, 20))
        b[22:26] = struct.pack("<i", -20)  # top-down row order
        assert parse_media(bytes(b))["height"] == 20

    def test_tiff_both_endians(self):
        from unitdb_spark.functions.media_codec import build_tiff, parse_media

        for le in (True, False):
            m = parse_media(build_tiff(123, 77, little_endian=le))
            assert m["container"] == "tiff"
            assert (m["width"], m["height"]) == (123, 77)

    def test_mp3_roundtrip_with_and_without_id3(self):
        from unitdb_spark.functions.media_codec import build_mp3, parse_media

        for id3 in (0, 37):
            m = parse_media(build_mp3(44100, 10, id3_len=id3))
            assert m["container"] == "mp3"
            assert m["n_frames"] == 10 and m["sample_rate"] == 44100
            assert m["duration_s"] == 10 * 1152 / 44100.0

    def test_mp3_truncated_final_frame_not_counted(self):
        from unitdb_spark.functions.media_codec import build_mp3, parse_media

        full = build_mp3(48000, 3)
        m = parse_media(full[:-10])  # last frame loses its tail
        assert m["n_frames"] == 2

    def test_corrupt_inputs_yield_null_rows(self):
        from unitdb_spark.functions.media_codec import parse_media

        for blob in (b"BMxx", b"II*\x00\xff", b"\xff\xfb", b"ID3" + b"\x00" * 7):
            m = parse_media(blob)
            assert m["container"] is None

    def test_bitrate_variants(self):
        from unitdb_spark.functions.media_codec import build_mp3, parse_media

        for kbps in (32, 128, 320):
            m = parse_media(build_mp3(32000, 5, bitrate_kbps=kbps))
            assert m["n_frames"] == 5 and m["sample_rate"] == 32000


class TestFlac:
    def test_roundtrip(self):
        from unitdb_spark.functions.media_codec import build_flac, parse_media

        m = parse_media(build_flac(44100, 441000))
        assert m["container"] == "flac"
        assert m["sample_rate"] == 44100
        assert m["duration_s"] == 10.0
        assert m["width"] is None and m["n_frames"] is None

    def test_36bit_total_samples(self):
        from unitdb_spark.functions.media_codec import build_flac, parse_media

        total = (1 << 35) + 12345
        m = parse_media(build_flac(8000, total))
        assert m["duration_s"] == total / 8000.0

    def test_corrupt_inputs_null(self):
        from unitdb_spark.functions.media_codec import build_flac, parse_media

        good = build_flac(22050, 1000)
        assert parse_media(good[:10])["container"] is None  # truncated
        # zero the 20-bit rate field (bits 44+ of the packed word =
        # bytes 18-20 of the file): declared rate 0 -> NULL row
        b = bytearray(good)
        b[18] = 0; b[19] = 0; b[20] &= 0x0F
        assert parse_media(bytes(b))["container"] is None

    def test_builder_range_validation(self):
        import pytest as _pytest

        from unitdb_spark.functions.media_codec import build_flac

        with _pytest.raises(ValueError):
            build_flac(1 << 21, 100)
        with _pytest.raises(ValueError):
            build_flac(8000, 1 << 37)


class TestPngPixels:
    """The REAL PNG pixel kernel: stdlib zlib inflate + per-scanline
    unfilter. Roundtrips cannot catch a spec misread that is symmetric
    in filter/unfilter, so the decoder is ALSO pinned against a PNG
    whose filtered scanline bytes were computed BY HAND from the spec
    (§9.2/9.4) and embedded as literals."""

    def test_roundtrip_all_filters(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_png_rgb,
            encode_png_rgb,
        )

        rng = np.random.default_rng(7)
        for _ in range(10):
            h, w = int(rng.integers(1, 33)), int(rng.integers(1, 33))
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            filters = rng.integers(0, 5, h)
            back = decode_png_rgb(encode_png_rgb(arr, filters))
            assert back is not None and (back == arr).all()

    def test_unfilter_matches_hand_computed_spec_bytes(self):
        # 2x2 RGB image, row0 filtered with Sub(1), row1 with Paeth(4);
        # the filtered bytes below were derived by hand from the spec
        import struct
        import zlib

        import numpy as np

        from unitdb_spark.functions.media_codec import (
            PNG_SIG,
            _png_chunk,
            decode_png_rgb,
        )

        pixels = np.array(
            [[[10, 20, 30], [13, 19, 40]], [[5, 120, 200], [255, 0, 7]]],
            dtype=np.uint8,
        )
        scanlines = bytes(
            [1, 10, 20, 30, 3, 255, 10]       # Sub: delta to left pixel
            + [4, 251, 100, 170, 245, 136, 63]  # Paeth per §9.4
        )
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        png = (
            PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(scanlines))
            + _png_chunk(b"IEND", b"")
        )
        got = decode_png_rgb(png)
        assert got is not None and (got == pixels).all()

    def test_split_idat_chunks(self):
        # IDAT may be split at any byte boundary; decoders must concat
        import struct
        import zlib

        import numpy as np

        from unitdb_spark.functions.media_codec import (
            PNG_SIG,
            _png_chunk,
            decode_png_rgb,
            encode_png_rgb,
        )

        arr = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3)
        comp = zlib.compress(
            b"".join(b"\x00" + arr[y].tobytes() for y in range(5))
        )
        ihdr = struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0)
        png = (
            PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", comp[:7])
            + _png_chunk(b"IDAT", comp[7:])
            + _png_chunk(b"IEND", b"")
        )
        got = decode_png_rgb(png)
        assert got is not None and (got == arr).all()
        assert (decode_png_rgb(encode_png_rgb(arr)) == arr).all()

    def test_rejects_unsupported_and_corrupt(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            build_png,
            decode_png_rgb,
            encode_png_rgb,
            resize_png_nearest,
        )

        assert decode_png_rgb(b"not a png") is None
        assert decode_png_rgb(build_png(4, 4, 10)) is None  # junk IDAT
        arr = np.zeros((3, 3, 3), dtype=np.uint8)
        b = bytearray(encode_png_rgb(arr))
        b[25] = 3  # color type 3 = palette -> unsupported
        assert decode_png_rgb(bytes(b)) is None
        assert resize_png_nearest(b"junk", 4, 4) is None

    @pytest.mark.parametrize("name", ["png", "png_adam7", "bmp", "tiff"])
    def test_resize_matches_numpy_model(self, name):
        """Lossless kernels: the output decodes to the index-math
        resample of the decoded input, in the input's own format."""
        import numpy as np

        encode, kernel, decode = RESIZE_KERNELS[name]
        rng = np.random.default_rng(3)
        b = encode(rng.integers(0, 256, (13, 17, 3), dtype=np.uint8))
        out = kernel(b, 8, 6)
        xs = (np.arange(8) * 17) // 8
        ys = (np.arange(6) * 13) // 6
        assert (decode(out) == decode(b)[np.ix_(ys, xs)]).all()
        assert out[:2] == b[:2]  # same container (a TIFF keeps "MM")
        if name == "png_adam7":  # re-encoded through the Adam7 writer
            assert mc.decode_png_rgb(out) is None


class TestGifLzw:
    """Real LZW codec: the width-growth rules are the classic
    off-by-one pair (encoder bumps at 2^w via next_code, decoder at
    2^w - 1 via its lagging table, encoder simulates the decoder's
    final-flush add before EOI) — pinned across every boundary."""

    def test_random_roundtrip_all_widths(self):
        import random

        from unitdb_spark.functions.media_codec import _lzw_decode, _lzw_encode

        rng = random.Random(9)
        for n in (1, 255, 256, 257, 300, 5000, 200_000):
            data = bytes(rng.randrange(256) for _ in range(n))
            assert _lzw_decode(_lzw_encode(data, 8), 8) == data
        for mcs in (2, 4, 7):
            data = bytes(rng.randrange(1 << mcs) for _ in range(20_000))
            assert _lzw_decode(_lzw_encode(data, mcs), mcs) == data

    def test_tail_lands_on_every_width_boundary(self):
        """Streams sized so the final flush + EOI straddle the
        9->10-bit transition — the edge the fixture sweep caught."""
        from unitdb_spark.functions.media_codec import _lzw_decode, _lzw_encode

        for pad in range(240, 280):
            data = bytes((i * 3) % 256 for i in range(pad))
            assert _lzw_decode(_lzw_encode(data, 8), 8) == data

    def test_kwkwk_and_table_reset(self):
        from unitdb_spark.functions.media_codec import _lzw_decode, _lzw_encode

        assert _lzw_decode(_lzw_encode(b"\x00" * 100_000, 8), 8) == b"\x00" * 100_000
        rep = b"abcabcabd" * 30_000  # >4096 entries -> CLEAR path
        assert _lzw_decode(_lzw_encode(rep, 8), 8) == rep

    def test_gif_roundtrip_and_resize(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_gif_indexed,
            encode_gif_indexed,
            parse_gif,
            resize_gif_nearest,
        )

        idx = (np.arange(37 * 23).reshape(23, 37) % 256).astype(np.uint8)
        pal = [((i * 3) % 256, (i * 7) % 256, (i * 11) % 256) for i in range(256)]
        g = encode_gif_indexed(idx, pal)
        i2, p2 = decode_gif_indexed(g)
        assert (i2 == idx).all() and [tuple(p) for p in p2] == pal
        # the header parser agrees on dims (one container, two readers)
        assert parse_gif(g)["width"] == 37 and parse_gif(g)["height"] == 23
        i3, _ = decode_gif_indexed(resize_gif_nearest(g, 8, 6))
        xs = (np.arange(8) * 37) // 8
        ys = (np.arange(6) * 23) // 6
        assert (i3 == idx[np.ix_(ys, xs)]).all()

    def test_malformed_gifs_are_null(self):
        from unitdb_spark.functions.media_codec import decode_gif_indexed

        assert decode_gif_indexed(b"GIF87a") is None
        assert decode_gif_indexed(b"notagif" * 10) is None
        # valid header, truncated image data
        import numpy as np

        from unitdb_spark.functions.media_codec import encode_gif_indexed

        idx = np.zeros((5, 5), dtype=np.uint8)
        pal = [(i, i, i) for i in range(256)]
        g = encode_gif_indexed(idx, pal)
        assert decode_gif_indexed(g[:40]) is None


class TestJpegBaseline:
    def _block_constant(self, bw, bh, seed=0):
        import numpy as np

        rng = np.random.RandomState(seed)
        blocks = rng.randint(0, 256, size=(bh, bw, 3))
        return np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype(
            np.uint8
        )

    def test_block_constant_roundtrip_is_exact(self):
        """A constant 8x8 block is DC-only; flat quant 8 stores
        8*(v-128) exactly, so the lossy format round-trips
        bit-for-bit — the exactness contract the fixture leans on."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            _ycbcr_to_rgb_int,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        arr = self._block_constant(3, 2, seed=1)
        dec = decode_jpeg_rgb(encode_jpeg_baseline(arr, quant=8))
        assert dec is not None and dec.shape == arr.shape
        exp = np.zeros_like(dec)
        for y in range(arr.shape[0]):
            for x in range(arr.shape[1]):
                exp[y, x] = _ycbcr_to_rgb_int(*[int(v) for v in arr[y, x]])
        assert np.array_equal(dec, exp)

    def test_odd_dimensions_pad_and_crop(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            _ycbcr_to_rgb_int,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        arr = self._block_constant(3, 2, seed=2)[:13, :19]
        dec = decode_jpeg_rgb(encode_jpeg_baseline(arr, quant=8))
        assert dec is not None and dec.shape == (13, 19, 3)
        for y, x in [(0, 0), (12, 18), (7, 8)]:
            assert tuple(dec[y, x]) == _ycbcr_to_rgb_int(
                *[int(v) for v in arr[y, x]]
            )

    def test_general_image_with_ac_coefficients(self):
        """Smooth gradient (real AC coefficients, run-length + ZRL
        paths) decodes within quantization error of the input —
        grayscale, so no color transform blurs the bound."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        g = (
            np.clip(np.add.outer(np.arange(24) * 3, np.arange(32) * 2)
                    % 200 + 20, 0, 255)
        ).astype(np.uint8)
        dec = decode_jpeg_rgb(encode_jpeg_baseline(g, quant=4))
        assert dec is not None and dec.shape == (24, 32, 3)
        # grayscale replicates across channels
        assert (dec[:, :, 0] == dec[:, :, 1]).all()
        diff = np.abs(dec[:, :, 0].astype(int) - g.astype(int))
        assert diff.max() <= 8, diff.max()

    def test_header_parser_agrees(self):
        from unitdb_spark.functions.media_codec import (
            encode_jpeg_baseline,
            parse_jpeg,
        )

        arr = self._block_constant(4, 3, seed=3)
        info = parse_jpeg(encode_jpeg_baseline(arr))
        assert info["container"] == "jpeg"
        assert info["width"] == 32 and info["height"] == 24

    def test_refusals_are_none(self):
        from unitdb_spark.functions.media_codec import (
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        arr = self._block_constant(2, 2)
        j = encode_jpeg_baseline(arr)
        assert decode_jpeg_rgb(j[:40]) is None  # truncated
        assert decode_jpeg_rgb(b"") is None
        assert decode_jpeg_rgb(b"\xff\xd8\x00\x00") is None
        # progressive (SOF2) refused: flip the frame marker
        prog = bytearray(j)
        idx = bytes(prog).find(b"\xff\xc0")
        prog[idx + 1] = 0xC2
        assert decode_jpeg_rgb(bytes(prog)) is None
        # exotic sampling refused: 3x3 luma factor (1-2 per axis is
        # the supported envelope — 4:4:4/4:2:2/4:4:0/4:2:0)
        sub = bytearray(j)
        sub[idx + 11] = 0x33
        assert decode_jpeg_rgb(bytes(sub)) is None

    @pytest.mark.parametrize("name", ["jpeg", "jpeg_prog"])
    def test_resize_to_png_matches_index_math(self, name):
        """The lossless PNG output is the index-math resample of the
        decoded JPEG input (40x24 -> 7x5: no integer scale factor, so
        every index rounds)."""
        import numpy as np

        encode, kernel, decode = RESIZE_KERNELS[name]
        rng = np.random.default_rng(4)
        b = encode(rng.integers(0, 256, (24, 40, 3), dtype=np.uint8))
        got = decode(kernel(b, 7, 5))
        assert got is not None and got.shape == (5, 7, 3)
        xs = (np.arange(7) * 40) // 7
        ys = (np.arange(5) * 24) // 5
        assert np.array_equal(got, mc.decode_jpeg_any_rgb(b)[np.ix_(ys, xs)])

    def test_zigzag_is_the_standard_table(self):
        from unitdb_spark.functions.media_codec import _ZIGZAG

        assert _ZIGZAG[:16] == [0, 1, 8, 16, 9, 2, 3, 10,
                                17, 24, 32, 25, 18, 11, 4, 5]
        assert sorted(_ZIGZAG) == list(range(64))
        assert _ZIGZAG[-4:] == [47, 55, 62, 63]


class TestJpeg420:
    def _macro_constant(self, mw, mh, seed=0):
        import numpy as np

        rng = np.random.RandomState(seed)
        mb = rng.randint(0, 256, size=(mh, mw, 3))
        return np.repeat(np.repeat(mb, 16, axis=0), 16, axis=1).astype(
            np.uint8
        )

    def test_macroblock_constant_roundtrip_is_exact(self):
        """Chroma decimation + replication upsample are lossless on a
        macroblock-constant image, so 4:2:0 round-trips bit-exactly —
        and a hash-match proves the 2x2 MCU block order and the
        per-component DC interleave."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            _ycbcr_to_rgb_int,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        arr = self._macro_constant(3, 2, seed=5)
        dec = decode_jpeg_rgb(encode_jpeg_baseline(arr, quant=8,
                                                   subsample="420"))
        assert dec is not None and dec.shape == arr.shape
        exp = np.zeros_like(dec)
        for y in range(arr.shape[0]):
            for x in range(arr.shape[1]):
                exp[y, x] = _ycbcr_to_rgb_int(*[int(v) for v in arr[y, x]])
        assert np.array_equal(dec, exp)

    def test_odd_dimensions_pad_and_crop(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            _ycbcr_to_rgb_int,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        arr = self._macro_constant(3, 2, seed=6)[:27, :37]
        dec = decode_jpeg_rgb(encode_jpeg_baseline(arr, quant=8,
                                                   subsample="420"))
        assert dec is not None and dec.shape == (27, 37, 3)
        for y, x in [(0, 0), (26, 36), (15, 16)]:
            assert tuple(dec[y, x]) == _ycbcr_to_rgb_int(
                *[int(v) for v in arr[y, x]]
            )

    def test_420_smaller_than_444(self):
        from unitdb_spark.functions.media_codec import encode_jpeg_baseline

        arr = self._macro_constant(2, 2, seed=7)
        assert len(encode_jpeg_baseline(arr, quant=8, subsample="420")) < len(
            encode_jpeg_baseline(arr, quant=8)
        )

    def test_3x_sampling_still_refused(self):
        from unitdb_spark.functions.media_codec import (
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        arr = self._macro_constant(2, 2)
        j = bytearray(encode_jpeg_baseline(arr, quant=8, subsample="420"))
        idx = bytes(j).find(b"\xff\xc0")
        j[idx + 11] = 0x33  # Y sampling 3x3
        assert decode_jpeg_rgb(bytes(j)) is None


class TestJpegQuantizerDeterminism:
    """r12 permanent decision on the padded-plane .5-boundary note:
    the FDCT output is snapped to 6 dp before quantization (BLAS
    accumulation-order noise is ~1e-12, five orders under the snap
    radius) and the quantizer is the fixed-order half-up
    floor(S/q + 0.5) — so the encoded coefficients are identical for
    ANY summation order, padded non-MCU-multiple planes included."""

    def _quantized(self, arr, quant, subsample):
        from unitdb_spark.functions.media_codec import _jpeg_quantized_coefs

        return _jpeg_quantized_coefs(arr, quant, subsample)

    def test_padded_plane_loop_vs_batched_fdct_identical(self):
        """Recompute the padded 4:2:0 planes' coefficients with a
        per-block Python-loop FDCT (a different BLAS accumulation
        order than the shipped batched matmul) and assert the
        quantized output is bit-identical — the exact scenario that
        flipped a coefficient before the snap (-940.0 vs
        -939.9999999999998 on a padded chroma plane)."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            _ZIGZAG,
            _dct_matrix,
            _pad_edge,
        )

        rng = np.random.RandomState(7)
        arr = rng.randint(0, 256, size=(21, 13, 3)).astype(np.uint8)
        quant = 8
        h, w, samps, coefs = self._quantized(arr, quant, "420")
        ph, pw = (h + 15) // 16 * 16, (w + 15) // 16 * 16
        planes = [
            _pad_edge(arr[:, :, 0], ph, pw),
            _pad_edge(arr[:, :, 1], ph, pw)[::2, ::2],
            _pad_edge(arr[:, :, 2], ph, pw)[::2, ::2],
        ]
        C = _dct_matrix()
        zig = np.asarray(_ZIGZAG, dtype=np.int64)
        for c, pl in enumerate(planes):
            by, bx = pl.shape[0] // 8, pl.shape[1] // 8
            ref = np.empty((by, bx, 64), dtype=np.int64)
            for i in range(by):
                for j in range(bx):
                    blk = (
                        pl[i * 8 : i * 8 + 8, j * 8 : j * 8 + 8].astype(
                            np.float64
                        )
                        - 128.0
                    )
                    S = np.round(C @ blk @ C.T, 6)
                    q = np.floor(S / float(quant) + 0.5).astype(np.int64)
                    ref[i, j] = q.reshape(64)[zig]
            assert np.array_equal(coefs[c], ref)

    def test_half_boundary_is_ulp_immune(self):
        """The quantizer decision at an exact .5 quotient is identical
        whether the accumulated DCT value arrives a few ulps above,
        below, or exactly on the true value — the snap absorbs the
        perturbation before the discontinuity can see it."""
        import numpy as np

        for true in (-940.0, -939.5, 117.5, 4.0, -0.5):
            outs = {
                float(
                    np.floor(np.round(true + eps, 6) / 8.0 + 0.5)
                )
                for eps in (-2e-12, -1e-13, 0.0, 1e-13, 2e-12)
            }
            assert len(outs) == 1, (true, outs)

    def test_mcu_multiple_fixture_bytes_unchanged(self):
        """Half-up only differs from the old half-even AT the .5
        boundary; the block-constant fixtures are boundary-free by
        construction, so their encoded bytes (and the shared DuckDB
        oracles) are untouched by the r12 decision. Round-trip
        exactness re-pinned here."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            _ycbcr_to_rgb_int,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        rng = np.random.RandomState(3)
        blocks = rng.randint(0, 256, size=(2, 3, 3))
        arr = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype(
            np.uint8
        )
        dec = decode_jpeg_rgb(encode_jpeg_baseline(arr, quant=8))
        exp = np.zeros_like(dec)
        for y in range(arr.shape[0]):
            for x in range(arr.shape[1]):
                exp[y, x] = _ycbcr_to_rgb_int(*[int(v) for v in arr[y, x]])
        assert np.array_equal(dec, exp)


class TestJpegRestarts:
    def test_restart_markers_roundtrip_exact(self):
        """DRI + RSTn every N MCUs: byte-aligned restarts with DC
        predictor resets must decode bit-exactly — the T.81 error-
        resilience machinery real-world encoders emit."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            _ycbcr_to_rgb_int,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
        )

        rng = np.random.RandomState(9)
        b8 = np.repeat(
            np.repeat(rng.randint(0, 256, (4, 5, 3)), 8, axis=0), 8, axis=1
        ).astype(np.uint8)
        b16 = np.repeat(
            np.repeat(rng.randint(0, 256, (2, 3, 3)), 16, axis=0), 16, axis=1
        ).astype(np.uint8)
        for arr, kw in [
            (b8, {"restart_interval": 2}),
            (b8, {"restart_interval": 1}),  # >8 restarts: index wraps
            (b16, {"subsample": "420", "restart_interval": 2}),
        ]:
            j = encode_jpeg_baseline(arr, quant=8, **kw)
            assert b"\xff\xdd" in j  # DRI present
            dec = decode_jpeg_rgb(j)
            assert dec is not None
            exp = np.zeros_like(dec)
            for y in range(arr.shape[0]):
                for x in range(arr.shape[1]):
                    exp[y, x] = _ycbcr_to_rgb_int(
                        *[int(v) for v in arr[y, x]]
                    )
            assert np.array_equal(dec, exp), kw


class TestAdam7:
    def test_roundtrip_all_filters_and_dims(self):
        """Interlaced write -> de-interlaced read reconstructs every
        pixel, across dims that empty some passes (w or h < 8) and
        with every filter type in the sequential-scanline rotation."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            adam7_scanline_count,
            decode_png_rgb_any,
            encode_png_rgb_adam7,
        )

        rng = np.random.default_rng(11)
        for h, w in [(1, 1), (1, 9), (9, 1), (4, 4), (7, 5), (8, 8),
                     (17, 23), (32, 3)]:
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            n = adam7_scanline_count(w, h)
            filters = [i % 5 for i in range(n)]
            blob = encode_png_rgb_adam7(arr, filters)
            back = decode_png_rgb_any(blob)
            assert back is not None and (back == arr).all(), (h, w)

    def test_sequential_decoder_refuses_interlaced(self):
        """The narrow decoder's honest-failure contract is unchanged:
        interlace=1 -> None there, real pixels via the _any path."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_png_rgb,
            decode_png_rgb_any,
            encode_png_rgb,
            encode_png_rgb_adam7,
        )

        arr = np.arange(10 * 6 * 3, dtype=np.uint8).reshape(10, 6, 3) % 256
        assert decode_png_rgb(encode_png_rgb_adam7(arr)) is None
        # and _any handles the sequential container identically
        seq = encode_png_rgb(arr)
        assert (decode_png_rgb_any(seq) == arr).all()

    def test_pass_grid_matches_spec(self):
        """Pass pixel-count identity: the seven Adam7 grids tile the
        image exactly once (every pixel in exactly one pass)."""
        import numpy as np

        from unitdb_spark.functions.media_codec import ADAM7_PASSES

        for h, w in [(8, 8), (5, 7), (16, 9), (1, 1)]:
            seen = np.zeros((h, w), dtype=int)
            for x0, y0, dx, dy in ADAM7_PASSES:
                seen[y0::dy, x0::dx] += 1
            assert (seen == 1).all()


class TestAnimatedGif:
    def test_multiframe_roundtrip(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_gif_frames,
            encode_gif_animated,
        )

        rng = np.random.default_rng(3)
        pal = [(p, (2 * p) % 256, (3 * p) % 256) for p in range(256)]
        frames = [
            rng.integers(0, 256, (7, 5), dtype=np.uint8) for _ in range(4)
        ]
        blob = encode_gif_animated(frames, pal)
        got = decode_gif_frames(blob)
        assert got is not None
        back, back_pal = got
        assert len(back) == 4
        for a, b in zip(frames, back):
            assert (a == b).all()
        assert (back_pal == np.array(pal, dtype=np.uint8)).all()

    def test_single_image_gif_still_decodes_and_junk_refused(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_gif_frames,
            encode_gif_indexed,
        )

        pal = [(p, p, p) for p in range(256)]
        idx = np.arange(12, dtype=np.uint8).reshape(3, 4)
        got = decode_gif_frames(encode_gif_indexed(idx, pal))
        assert got is not None and len(got[0]) == 1
        assert (got[0][0] == idx).all()
        assert decode_gif_frames(b"GIF89a\x00") is None
        assert decode_gif_frames(b"notagif") is None


class TestProgressiveJpeg:
    def test_progressive_equals_baseline_decode(self):
        """The central exactness claim: a progressive stream carries
        the SAME quantized coefficients as the baseline encoding of
        the same array, so the two decodes must agree bit for bit —
        across 4:4:4, 4:2:0, grayscale, and non-square shapes."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_jpeg_progressive_rgb,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(5)
        for h, w, sub in [(8, 8, None), (16, 16, None), (24, 32, None),
                          (16, 16, "420"), (32, 48, "420"), (8, 16, None)]:
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            base = decode_jpeg_rgb(encode_jpeg_baseline(arr, subsample=sub))
            prog = decode_jpeg_progressive_rgb(
                encode_jpeg_progressive(arr, subsample=sub)
            )
            assert prog is not None, (h, w, sub)
            assert (base == prog).all(), (h, w, sub)
        g = rng.integers(0, 256, (16, 24), dtype=np.uint8)
        assert (
            decode_jpeg_rgb(encode_jpeg_baseline(g))
            == decode_jpeg_progressive_rgb(encode_jpeg_progressive(g))
        ).all()

    def test_constant_blocks_roundtrip_exactly(self):
        """The fixture's exactness argument: block-constant pixels with
        flat quant 8 survive the progressive path bit for bit."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_jpeg_progressive_rgb,
            encode_jpeg_progressive,
        )

        blocks = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3) * 20
        arr = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        got = decode_jpeg_progressive_rgb(encode_jpeg_progressive(arr, quant=8))
        assert got is not None
        # expected: pinned integer YCbCr->RGB of the exact constants
        M = 1_000_000
        Y = arr[:, :, 0].astype(np.int64)
        Cb = arr[:, :, 1].astype(np.int64)
        Cr = arr[:, :, 2].astype(np.int64)
        r = (M * Y + 1_402_000 * (Cr - 128) + 500_000) // M
        g = (M * Y - 344_136 * (Cb - 128) - 714_136 * (Cr - 128) + 500_000) // M
        bl = (M * Y + 1_772_000 * (Cb - 128) + 500_000) // M
        want = np.clip(np.stack([r, g, bl], axis=-1), 0, 255).astype(np.uint8)
        assert (got == want).all()

    def test_cross_refusals(self):
        """Each decoder keeps its honest contract: the baseline
        decoder refuses SOF2; the progressive decoder refuses SOF0;
        the umbrella accepts both."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_jpeg_any_rgb,
            decode_jpeg_progressive_rgb,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
            encode_jpeg_progressive,
        )

        arr = np.full((8, 8, 3), 100, dtype=np.uint8)
        base, prog = encode_jpeg_baseline(arr), encode_jpeg_progressive(arr)
        assert decode_jpeg_rgb(prog) is None
        assert decode_jpeg_progressive_rgb(base) is None
        assert decode_jpeg_any_rgb(base) is not None
        assert decode_jpeg_any_rgb(prog) is not None
        # MCU-multiple restriction is loud
        import pytest

        with pytest.raises(ValueError):
            encode_jpeg_progressive(np.zeros((9, 8, 3), dtype=np.uint8))


class TestMuLaw:
    def test_full_domain_properties(self):
        """Every int16 input: monotone decode, odd symmetry, code
        idempotence (except the +0/-0 code pair), half-step error
        bound inside the clip region, all 256 codes reachable."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            pcm16_to_ulaw,
            ulaw_to_pcm16,
        )

        s = np.arange(-32768, 32768, dtype=np.int64)
        enc = pcm16_to_ulaw(s)
        dec = ulaw_to_pcm16(enc)
        assert (np.diff(dec) >= 0).all()
        assert (ulaw_to_pcm16(pcm16_to_ulaw(-s)) == -dec).all()
        nz = dec != 0
        assert (pcm16_to_ulaw(dec)[nz] == enc[nz]).all()
        a = np.minimum(np.abs(s) >> 2, 8159) + 33
        seg = np.zeros_like(a)
        for uend in (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF):
            seg += a > uend
        inner = (np.abs(s) >> 2) < 8159
        assert (np.abs(dec - s)[inner] <= (1 << (seg + 3))[inner]).all()
        assert len(np.unique(enc)) == 256

    def test_known_codepoints(self):
        """Spot values against the CCITT algebra worked by hand."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            pcm16_to_ulaw,
            ulaw_to_pcm16,
        )

        # 0 -> a=33, seg 0, mant 0 -> uval 0 -> positive mask 0xFF
        assert pcm16_to_ulaw(np.array([0]))[0] == 0xFF
        # max positive clips to the loudest code 0x80
        assert pcm16_to_ulaw(np.array([32767]))[0] == 0x80
        assert pcm16_to_ulaw(np.array([-32768]))[0] == 0x00
        # loudest code decodes to the standard 8031 << 2
        assert ulaw_to_pcm16(np.array([0x80]))[0] == 32124
        assert ulaw_to_pcm16(np.array([0x00]))[0] == -32124


class TestProgressiveJpegProperty:
    def test_extreme_and_structured_content(self):
        """Stress the refinement paths: flat extremes (long EOB runs),
        checkerboards (dense high-frequency AC), single-hot-pixel
        (ZRL chains), narrow strips — progressive decode must equal
        baseline decode on every one."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_jpeg_progressive_rgb,
            decode_jpeg_rgb,
            encode_jpeg_baseline,
            encode_jpeg_progressive,
        )

        cases = []
        cases.append(np.zeros((16, 16, 3), dtype=np.uint8))
        cases.append(np.full((16, 16, 3), 255, dtype=np.uint8))
        cb = np.indices((16, 16)).sum(axis=0) % 2 * 255
        cases.append(np.stack([cb, cb, cb], axis=-1).astype(np.uint8))
        hot = np.zeros((8, 8, 3), dtype=np.uint8)
        hot[3, 5] = (200, 10, 250)
        cases.append(hot)
        strip = np.tile(
            np.arange(64, dtype=np.uint8)[None, :, None], (8, 1, 3)
        ) * 4
        cases.append(strip[:, :64])
        rng = np.random.default_rng(17)
        for _ in range(6):
            h = 8 * int(rng.integers(1, 5))
            w = 8 * int(rng.integers(1, 5))
            cases.append(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
        for i, arr in enumerate(cases):
            base = decode_jpeg_rgb(encode_jpeg_baseline(arr))
            prog = decode_jpeg_progressive_rgb(encode_jpeg_progressive(arr))
            assert prog is not None, i
            assert (base == prog).all(), i

    def test_truncated_progressive_refused(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_jpeg_progressive_rgb,
            encode_jpeg_progressive,
        )

        arr = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
        blob = encode_jpeg_progressive(arr)
        assert decode_jpeg_progressive_rgb(blob[: len(blob) // 2]) is None
        assert decode_jpeg_progressive_rgb(b"\xff\xd8\xff\xd9") is None


class TestFlacFixed:
    def test_lossless_roundtrip_matrix(self):
        """Losslessness over noise (order 0 wins), ramps (order 1-2),
        smooth curves (higher orders), constants (CONSTANT subframe),
        multi-frame splits, and sizes around the blocksize boundary."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_flac_fixed,
            encode_flac_fixed,
        )

        rng = np.random.default_rng(7)
        cases = [
            rng.integers(-32768, 32768, 5000).astype(np.int64),
            (np.arange(3000, dtype=np.int64) * 11 % 65536) - 32768,
            (np.sin(np.arange(4000) / 20) * 20000).astype(np.int64),
            np.full(2000, -1234, dtype=np.int64),
            np.array([5], dtype=np.int64),
            np.array([-32768, 32767], dtype=np.int64),
            rng.integers(-32768, 32768, 1024).astype(np.int64),
            rng.integers(-32768, 32768, 1025).astype(np.int64),
        ]
        for i, s in enumerate(cases):
            blob = encode_flac_fixed(s, 16000, blocksize=1024)
            got = decode_flac_fixed(blob)
            assert got is not None, i
            rate, back = got
            assert rate == 16000 and (back == s).all(), i

    def test_compression_is_real_and_crc_guards(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_flac_fixed,
            encode_flac_fixed,
        )

        s = (np.sin(np.arange(8000) / 15) * 15000).astype(np.int64)
        blob = encode_flac_fixed(s, 8000)
        # smooth signal: fixed predictors genuinely compress
        assert len(blob) < 2 * s.size * 0.4
        # a flipped payload bit must fail a CRC, not produce samples
        bad = bytearray(blob)
        bad[len(bad) // 2] ^= 0x01
        assert decode_flac_fixed(bytes(bad)) is None
        assert decode_flac_fixed(b"fLaCjunk") is None
        assert decode_flac_fixed(blob[: len(blob) - 3]) is None


class TestALaw:
    def test_full_domain_properties(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            alaw_to_pcm16,
            pcm16_to_alaw,
        )

        s = np.arange(-32768, 32768, dtype=np.int64)
        enc = pcm16_to_alaw(s)
        dec = alaw_to_pcm16(enc)
        assert (np.diff(dec) >= 0).all()
        assert (pcm16_to_alaw(dec) == enc).all()  # no ±0 pair in A-law
        assert len(np.unique(enc)) == 256
        a = np.minimum(np.where(s < 0, -s - 1, s) >> 3, 0xFFF)
        seg = np.zeros_like(a)
        for uend in (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF):
            seg += a > uend
        step = np.where(seg == 0, 16, 1 << (seg + 4))
        assert (np.abs(dec - s) <= step).all()

    def test_known_codepoints(self):
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            alaw_to_pcm16,
            pcm16_to_alaw,
        )

        # 0 -> positive, seg 0, mant 0 -> aval 0x80 -> ^0x55 = 0xD5
        assert pcm16_to_alaw(np.array([0]))[0] == 0xD5
        # loudest positive: seg 7 mant 15 -> 0xFF ^ 0x55 = 0xAA
        assert pcm16_to_alaw(np.array([32767]))[0] == 0xAA
        # its decode: midpoint (15+16)*1024 + 512 = 32256
        assert alaw_to_pcm16(np.array([0xAA]))[0] == 32256
        assert alaw_to_pcm16(np.array([0x2A]))[0] == -32256


class TestVectorizedCrc16:
    def test_fast_path_equals_reference_loop(self):
        """The GF(2) position-table CRC16 (used on every FLAC frame
        since round 9) must equal the byte-loop reference for every
        length class: empty, below the cutover, exactly at chunk
        boundaries, and long messages."""
        import numpy as np

        from unitdb_spark.functions import media_codec as mc

        rng = np.random.default_rng(99)
        for n in [0, 1, 63, 64, 65, 255, 256, 257, 511, 512, 513,
                  1000, 4096, 10000]:
            d = bytes(rng.integers(0, 256, n, dtype=np.uint8))
            assert mc._crc16_fast(d) == mc._crc16(d), n

    def test_fast_path_equals_reference_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from unitdb_spark.functions import media_codec as mc

        @given(st.binary(min_size=0, max_size=2048))
        @settings(max_examples=150, deadline=None)
        def check(d):
            assert mc._crc16_fast(d) == mc._crc16(d)

        check()


class TestFlacTruncation:
    def test_cut_mid_frame_header_returns_none(self):
        """r11 fuzz finding: the frame loop's 6-byte guard let a blob
        truncated inside the 8-byte fixed frame header index past the
        end (IndexError) instead of the honest-failure None. Pin every
        cut point across the first frame header."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_flac_fixed,
            encode_flac_fixed,
        )

        s = ((np.arange(600) * 13) % 4096 - 2048).astype(np.int16)
        blob = encode_flac_fixed(s, blocksize=256)
        full = decode_flac_fixed(blob)
        assert full is not None and np.array_equal(full[1], s.astype(np.int64))
        # 42 = fLaC + STREAMINFO block; cut through the entire stream
        # at byte granularity around headers and coarse elsewhere
        cuts = list(range(42, 60)) + list(range(60, len(blob), 37))
        for cut in cuts:
            assert decode_flac_fixed(blob[:cut]) is None, cut

    def test_pointer_doubling_matches_reference_walk(self):
        """The r11 vectorized successor-chain walk in _rice_decode_np
        must pick the identical terminators as the sequential
        reference walk, across k values and densities."""
        import numpy as np

        from unitdb_spark.functions.media_codec import (
            decode_flac_fixed,
            encode_flac_fixed,
        )

        rng = np.random.default_rng(11)
        for k_style in range(6):
            amp = [1, 7, 60, 500, 4000, 30000][k_style]
            s = rng.integers(-amp, amp + 1, 3000).astype(np.int16)
            blob = encode_flac_fixed(s, blocksize=1024)
            out = decode_flac_fixed(blob)
            assert out is not None
            assert np.array_equal(out[1], s.astype(np.int64)), k_style


class TestDecoderRobustness:
    """r11 exhaustive single-bit-flip fuzz findings, pinned: every
    decoder's contract is None-on-malformed, never an exception. Each
    case below reproduces a crash found by flipping one bit of a
    valid blob."""

    def _arr(self):
        import numpy as np

        return ((np.arange(16 * 16 * 3).reshape(16, 16, 3) * 5) % 256).astype(
            np.uint8
        )

    def test_jpeg_short_dqt_and_sos_segments(self):
        import numpy as np

        from unitdb_spark.functions import media_codec as mc

        blob = mc.encode_jpeg_baseline(self._arr(), quant=8)
        # flip the DQT precision nibble: the 65-byte 8-bit table is
        # suddenly read as 129 bytes of 16-bit values (crashed with
        # struct.error before the short-segment guard)
        i = blob.index(b"\xff\xdb") + 4
        bb = bytearray(blob)
        bb[i] |= 0x10
        assert mc.decode_jpeg_rgb(bytes(bb)) is None

    def test_jpeg_progressive_se_out_of_spec(self):
        from unitdb_spark.functions import media_codec as mc

        blob = mc.encode_jpeg_progressive(self._arr(), quant=8)
        # corrupt Se in an AC scan header past 63: indexed outside the
        # 64-coefficient block before the T.81 B.2.3 bounds check
        crashes = 0
        for i in range(len(blob)):
            for bit in (6, 7):
                bb = bytearray(blob)
                bb[i] ^= 1 << bit
                try:
                    mc.decode_jpeg_progressive_rgb(bytes(bb))
                except Exception:
                    crashes += 1
        assert crashes == 0

    def test_lzw_root_code_past_byte_range(self):
        from unitdb_spark.functions.media_codec import _lzw_decode, _lzw_encode

        data = bytes(range(250)) * 3
        enc = _lzw_encode(data, 8)
        assert _lzw_decode(enc, 8) == data
        # a corrupt min_code_size mints "root" codes past 255 — must
        # refuse, not ValueError out of bytearray.append
        assert _lzw_decode(enc, 11) is None or isinstance(
            _lzw_decode(enc, 11), bytes
        )
        assert _lzw_decode(enc, 12) is None
        assert _lzw_decode(enc, 0) is None

    def test_adam7_corrupt_dimension_is_refused_not_allocated(self):
        from unitdb_spark.functions import media_codec as mc

        blob = mc.encode_png_rgb_adam7(self._arr())
        # flip the IHDR width/height high bytes: the decoder must
        # refuse via the exact raw-size check, not attempt a multi-GB
        # np.empty (MemoryError before the fix)
        for off in (16, 20):
            bb = bytearray(blob)
            bb[off] ^= 0x80
            assert mc.decode_png_rgb_any(bytes(bb)) is None


class TestDecoderFuzzCI:
    """Seeded random corruption fuzz over EVERY decoder and metadata
    parser — the fast CI version of the r11 exhaustive single-bit-flip
    sweep (which found four crash classes, pinned above). Any raise is
    a failure: the contract is None-on-malformed. ~200 flips + 60
    truncations per codec, fixed seed, <15s total."""

    def _cases(self):
        import numpy as np

        from unitdb_spark.functions import media_codec as mc

        arr = ((np.arange(24 * 32 * 3).reshape(24, 32, 3) * 7) % 256).astype(
            np.uint8
        )
        arr8 = (
            (np.arange(16 * 16 * 3).reshape(16, 16, 3) * 5) % 256
        ).astype(np.uint8)
        idx = (arr[:, :, 0] % 256).astype(np.uint8)
        palette = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(256)]
        pcm = ((np.arange(2000) * 17) % 4096 - 2048).astype(np.int16)
        return [
            (mc.encode_jpeg_baseline(arr, quant=8), mc.decode_jpeg_rgb),
            (
                mc.encode_jpeg_baseline(arr, quant=8, subsample="420"),
                mc.decode_jpeg_rgb,
            ),
            (
                mc.encode_jpeg_progressive(arr8, quant=8),
                mc.decode_jpeg_progressive_rgb,
            ),
            (mc.encode_jpeg_progressive(arr8, quant=8), mc.decode_jpeg_any_rgb),
            (mc.encode_png_rgb(arr), mc.decode_png_rgb),
            (mc.encode_png_rgb_adam7(arr), mc.decode_png_rgb_any),
            (mc.encode_gif_indexed(idx, palette), mc.decode_gif_indexed),
            (
                mc.encode_gif_animated([idx, idx], palette),
                mc.decode_gif_frames,
            ),
            (mc.encode_gif_indexed(idx, palette), mc.decode_gif_rgb),
            (mc.encode_tiff_rgb(arr), mc.decode_tiff_rgb),
            (mc.encode_bmp24(arr), mc.decode_bmp24),
            (mc.encode_wav_pcm16(8000, pcm), mc.decode_wav_pcm16),
            (mc.encode_flac_fixed(pcm, blocksize=512), mc.decode_flac_fixed),
        ]

    def test_random_bit_flips_never_raise(self):
        import numpy as np

        rng = np.random.default_rng(1106)
        for blob, dec in self._cases():
            assert dec(blob) is not None
            for _ in range(200):
                i = int(rng.integers(0, len(blob)))
                bb = bytearray(blob)
                bb[i] ^= 1 << int(rng.integers(0, 8))
                dec(bytes(bb))  # any exception fails the test

    def test_truncations_never_raise(self):
        for blob, dec in self._cases():
            step = max(1, len(blob) // 60)
            for cut in range(0, len(blob), step):
                dec(blob[:cut])

    def test_metadata_parsers_never_raise(self):
        import numpy as np

        from unitdb_spark.functions import media_codec as mc

        rng = np.random.default_rng(1107)
        cases = [
            (mc.build_png(320, 200, 128), mc.parse_png),
            (mc.build_jpeg(320, 200, 256), mc.parse_jpeg),
            (mc.build_gif(100, 80, 3), mc.parse_gif),
            (mc.build_wav(8000, 4000), mc.parse_wav),
            (mc.build_mp4(320, 200, 5000, 120), mc.parse_mp4),
            (mc.build_bmp(64, 48, 64 * 48 * 3), mc.parse_bmp),
            (mc.build_tiff(64, 48), mc.parse_tiff),
            (mc.build_mp3(44100, 20), mc.parse_mp3),
            (mc.build_flac(8000, 4000, 64), mc.parse_flac),
        ]
        for blob, p in cases:
            assert p(blob) is not None
            for _ in range(200):
                i = int(rng.integers(0, len(blob)))
                bb = bytearray(blob)
                bb[i] ^= 1 << int(rng.integers(0, 8))
                p(bytes(bb))
                mc.parse_media(bytes(bb))
            step = max(1, len(blob) // 40)
            for cut in range(0, len(blob), step):
                p(blob[:cut])
                mc.parse_media(blob[:cut])
