"""Stdlib media codecs in ``operators/multimodal``: the PNG writer and
the malformed-input contract of the PNG/BMP decoders. All
dependency-free, so every test here runs without PIL or PyAV."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from apache_spark_streaming_project_spark.operators import multimodal as mm


def _gradient_gray(h: int = 24, w: int = 40) -> np.ndarray:
    return (np.add.outer(np.arange(h) * 3, np.arange(w) * 2) % 256).astype(
        np.uint8
    )


def _smooth_rgb(h: int = 33, w: int = 47) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 3) % 256, (y * 4) % 256, ((x + y) * 2) % 256], axis=-1
    ).astype(np.uint8)


class TestPngEncode:
    def test_gray_round_trip_through_stdlib_decoder(self):
        img = _gradient_gray(9, 13)
        got = np.frombuffer(
            mm._decode_png_stdlib(mm.encode_png(img)), np.uint8
        ).reshape(9, 13)
        assert (got == img).all()

    def test_rgb_round_trip_matches_exact_luma(self):
        img = _smooth_rgb(7, 11)
        got = mm._decode_png_stdlib(mm.encode_png(img))
        assert got == mm._gray_from_rgb(img).tobytes()

    def test_rgb_pixels_round_trip_exactly(self):
        img = _smooth_rgb(7, 11)
        got = mm._decode_png_pixels(mm.encode_png(img))
        assert got.shape == img.shape and (got == img).all()

    def test_rejects_bad_shapes(self):
        with pytest.raises(ValueError, match="expected"):
            mm.encode_png(np.zeros((4, 4, 2), np.uint8))


class TestCodecProperties:
    """Randomized differentials with ANALYTIC error bounds (no Spark —
    the codecs are pure functions)."""

    @settings(max_examples=20, deadline=None, derandomize=True)
    @given(st.integers(1, 16), st.integers(1, 16), st.integers(0, 2**32 - 1), st.booleans())
    def test_png_roundtrip_exact(self, h, w, seed, color):
        """PNG is lossless: encode_png -> _decode_png_pixels is the
        identity for any uint8 gray/RGB array."""
        rng = np.random.RandomState(seed)
        shape = (h, w, 3) if color else (h, w)
        img = rng.randint(0, 256, shape).astype(np.uint8)
        got = mm._decode_png_pixels(mm.encode_png(img))
        assert got.shape == img.shape and (got == img).all()


class TestMalformedInputFuzz:
    """Deterministic mutation fuzz over the stdlib decoders: byte flips,
    truncations, and junk splices of valid files, and hostile headers,
    must decode, raise ValueError, or raise NotImplementedError — never
    leak struct.error, zlib.error, IndexError, or an unbounded
    allocation (truncated headers once hit short unpacks and corrupt
    IDAT once leaked zlib.error)."""

    def _fixtures(self):
        import struct
        import zlib

        img = _gradient_gray(24, 32)
        rgb = _smooth_rgb(24, 24)
        idx = [[i % 4 for i in range(16)] for _ in range(8)]
        pal = bytes(
            v
            for rgb_ in [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
            for v in rgb_
        )

        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc)
            )

        plte_png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 8, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", pal)
            + chunk(b"IDAT", zlib.compress(b"".join(b"\x00" + bytes(r) for r in idx)))
            + chunk(b"IEND", b"")
        )
        return [
            (mm.encode_png(rgb), mm._decode_png_pixels),
            (mm.encode_png(img, interlace=True, filter_type=2), mm._decode_png_pixels),
            (plte_png, mm._decode_png_pixels),
        ]

    def test_mutations_stay_inside_the_error_contract(self):
        import random

        rng = random.Random(20260815)
        for payload, decode in self._fixtures():
            for _ in range(150):
                b = bytearray(payload)
                op = rng.randrange(3)
                if op == 0:  # flip 1-4 bytes
                    for _ in range(rng.randrange(1, 5)):
                        b[rng.randrange(len(b))] = rng.randrange(256)
                elif op == 1:  # truncate
                    b = b[: rng.randrange(1, len(b))]
                else:  # splice junk
                    i = rng.randrange(len(b))
                    b[i:i] = bytes(
                        rng.randrange(256) for _ in range(rng.randrange(1, 16))
                    )
                try:
                    decode(bytes(b))
                except (ValueError, NotImplementedError):
                    pass  # the documented contract

    def test_bmp_mutations_stay_inside_the_contract(self):
        import random
        import struct

        stride = (16 * 3 + 3) & ~3
        pb = bytearray()
        for r in range(8):
            line = bytes([r, 2 * r, 3 * r] * 16)
            pb += line + b"\x00" * (stride - len(line))
        info = struct.pack(
            "<IiiHHIIiiII", 40, 16, 8, 1, 24, 0, len(pb), 2835, 2835, 0, 0
        )
        off = 14 + len(info)
        bmp = (
            b"BM" + struct.pack("<IHHI", off + len(pb), 0, 0, off)
            + info + bytes(pb)
        )
        rng = random.Random(7)
        for _ in range(200):
            b = bytearray(bmp)
            if rng.randrange(2):
                b = b[: rng.randrange(1, len(b))]
            else:
                for _ in range(rng.randrange(1, 5)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                mm._decode_bmp_pixels(bytes(b))
            except (ValueError, NotImplementedError):
                pass

    def test_decompression_bomb_guard(self):
        """A few dozen payload bytes declaring 2^30 x 2^30 pixels must
        refuse up front (PIL MAX_IMAGE_PIXELS precedent), not attempt the
        allocation."""
        import struct
        import zlib

        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc)
            )

        bomb = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(
                b"IHDR", struct.pack(">IIBBBBB", 2**30, 2**30, 8, 0, 0, 0, 0)
            )
            + chunk(b"IDAT", zlib.compress(b"\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="cap"):
            mm._decode_png_pixels(bomb)

    def test_png_overinflating_stream_refuses_bounded(self):
        """An HONEST small header with a deflate stream that inflates to
        ~50 MB: the bounded decompressobj must stop at the declared raw
        size + 1 and refuse, never materializing the full inflate output
        (the pixel cap alone doesn't stop this)."""
        import struct
        import tracemalloc
        import zlib

        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc)
            )

        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * 50_000_000, 9))
            + chunk(b"IEND", b"")
        )
        tracemalloc.start()
        try:
            with pytest.raises(ValueError, match="inflates past"):
                mm._decode_png_pixels(payload)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        # declared raw size is 4*(4+1)=20 bytes; the inflate output must
        # be bounded near that, not the 50 MB the stream encodes
        assert peak < 5_000_000, f"peak allocation {peak} bytes"


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.booleans(),
    st.booleans(),
    st.sampled_from([0, 1, 2]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=30, deadline=None)
def test_property_png_roundtrip(h, w, rgb, interlace, filt, seed):
    """Random shapes x gray/RGB x plain/Adam7 x filters 0/1/2: encode ->
    stdlib decode recovers the pixels bit-exactly (the interlace pass
    geometry is boundary-sensitive)."""
    rng = np.random.RandomState(seed)
    shape = (h, w, 3) if rgb else (h, w)
    img = rng.randint(0, 256, shape).astype(np.uint8)
    got = mm._decode_png_pixels(
        mm.encode_png(img, interlace=interlace, filter_type=filt)
    )
    assert got.shape == img.shape and (got == img).all()
