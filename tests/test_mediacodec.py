"""Stdlib media codecs in ``operators/multimodal``: the PNG writer, the
malformed-input contract of the PNG/BMP decoders, and the GIF codec
(LZW, palettes, interlace, animation). All dependency-free, so every
test here runs without PIL or PyAV."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

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


class TestGif:
    """GIF87a/89a: LZW + palettes + interlace + animation, pinned by
    round-trip through our own encoder AND by real GIFs from the
    running Python's standard library (idlelib icons — real-encoder
    streams, skipped when absent)."""

    def _pal(self):
        rng = np.random.RandomState(4)
        return rng.randint(0, 256, (7, 3)).astype(np.uint8)

    def test_roundtrip_plain_and_interlaced(self):
        rng = np.random.RandomState(4)
        pal = self._pal()
        for shape in ((1, 1), (13, 17), (8, 8), (3, 31)):
            img = rng.randint(0, 7, shape).astype(np.uint8)
            for il in (False, True):
                px = mm.decode_gif(mm.encode_gif([img], pal, interlace=il))
                assert (px == pal[img]).all(), (shape, il)

    def test_animation_timestamps_and_content(self):
        rng = np.random.RandomState(5)
        pal = self._pal()
        frames = [rng.randint(0, 7, (9, 11)).astype(np.uint8) for _ in range(3)]
        g = mm.encode_gif(frames, pal, delays_cs=[10, 5, 20])
        out = mm.decode_gif_frames(g)
        assert [t for t, _ in out] == [0, 100, 150]
        for (_, got), src in zip(out, frames):
            assert (got == pal[src]).all()

    def test_transparency_and_disposal(self):
        """Hand-built two-frame GIF: frame 2 is a 1x1 sub-rectangle with
        a transparent index and disposal=2 on frame 1 — the composite
        must show the background-restored canvas under the transparent
        pixel."""
        import struct

        pal = np.array([[10, 10, 10], [200, 0, 0], [0, 200, 0]], np.uint8)
        f1 = np.array([[1, 1], [1, 1]], np.uint8)
        g = bytearray(mm.encode_gif([f1], pal))
        assert g[-1] == 0x3B
        g.pop()  # drop the trailer, append a hand-built second frame
        # GCE: disposal already applied to frame 1? Rebuild: set frame 1's
        # GCE disposal=2 (restore to background) — GCE bytes follow 0x21 0xF9 0x04
        i = bytes(g).find(b"\x21\xf9\x04")
        g[i + 3] = 2 << 2  # disposal=2, no transparency
        # frame 2: 1x1 at (0,0), transparent index 2 via its own GCE
        g += bytes([0x21, 0xF9, 4]) + struct.pack("<BHB", (0 << 2) | 1, 0, 2) + b"\x00"
        g += bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        g += bytes([2])  # LZW min code size
        lzw = mm._lzw_encode_gif(2, bytes([2]))  # one transparent pixel
        g += bytes([len(lzw)]) + lzw + b"\x00" + b"\x3B"
        frames = mm.decode_gif_frames(bytes(g))
        assert len(frames) == 2
        # frame 1 canvas: all red
        assert (frames[0][1] == pal[1]).all()
        # frame 2: disposal=2 restored the canvas to background (palette
        # entry 0 is the background color), and the transparent pixel
        # draws NOTHING over it
        assert (frames[1][1] == pal[0]).all()

    def test_malformed_gifs_refuse(self):
        pal = self._pal()
        img = np.zeros((4, 4), np.uint8)
        g = mm.encode_gif([img], pal)
        with pytest.raises(ValueError, match="GIF"):
            mm.decode_gif(b"GIF89a" + b"\x00" * 4)  # truncated header
        with pytest.raises(ValueError, match="trailer|truncated"):
            mm.decode_gif(g[:-2])
        with pytest.raises(ValueError, match="max_pixels"):
            bomb = bytearray(g)
            bomb[6:10] = (60000).to_bytes(2, "little") + (60000).to_bytes(2, "little")
            mm.decode_gif(bytes(bomb))
        with pytest.raises(ValueError, match="palette"):
            mm.encode_gif([img], np.zeros((300, 3), np.uint8))

    def test_lzw_dictionary_growth_and_clear(self):
        """A low-entropy megapixel-ish stream forces the LZW dictionary
        through every width 3..12 and past 4096 entries (clear+rebuild);
        the round-trip must stay exact."""
        rng = np.random.RandomState(6)
        img = (rng.randint(0, 4, (200, 300)) ** 2 % 4).astype(np.uint8)
        pal = self._pal()[:4]
        px = mm.decode_gif(mm.encode_gif([img], pal))
        assert (px == pal[img]).all()

    _ICONS = __import__("os").path.join(
        __import__("os").path.dirname(__import__("os").__file__),
        "idlelib",
        "Icons",
    )

    @pytest.mark.skipif(
        not __import__("os").path.isdir(_ICONS),
        reason="no real GIFs on this host",
    )
    def test_real_encoder_gifs_decode(self):
        import glob

        paths = sorted(glob.glob(f"{self._ICONS}/*.gif"))
        assert paths, "icon dir exists but holds no gifs"
        for p in paths[:8]:
            frames = mm.decode_gif_frames(open(p, "rb").read())
            h, w, c = frames[0][1].shape
            assert c == 3 and 1 <= h <= 64 and 1 <= w <= 64, p

    def test_fuzz_gif_stays_in_contract(self):
        import random

        pal = self._pal()
        rng0 = np.random.RandomState(8)
        img = rng0.randint(0, 7, (16, 16)).astype(np.uint8)
        payload = mm.encode_gif([img, img.T.copy()], pal, delays_cs=[5, 5])
        rng = random.Random(99)
        for _ in range(200):
            b = bytearray(payload)
            op = rng.randrange(3)
            if op == 0:
                for _ in range(rng.randrange(1, 5)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            elif op == 1:
                b = b[: rng.randrange(1, len(b))]
            else:
                i = rng.randrange(len(b))
                b[i:i] = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 12)))
            try:
                mm.decode_gif_frames(bytes(b))
            except (ValueError, NotImplementedError):
                pass


def test_gif_composite_bytes_cap():
    """A small payload declaring many frames on a large screen must not
    materialize gigabytes of canvas copies: the list form refuses past
    MAX_GIF_COMPOSITE_BYTES while the generator form streams the same
    animation one frame at a time."""
    import struct

    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    base = bytearray(mm.encode_gif([np.zeros((1, 1), np.uint8)], pal))
    # rewrite the logical screen to 2000x2000 and repeat the 1x1 frame
    # descriptor+data block 200 times: 200 * 2000*2000*3 = 2.4 GB of
    # composited copies if materialized
    base[6:10] = struct.pack("<HH", 2000, 2000)
    i = bytes(base).find(b"\x2c")
    frame_block = bytes(base[i:-1])  # image descriptor .. before trailer
    payload = bytes(base[:i]) + frame_block * 200 + b"\x3b"
    with pytest.raises(ValueError, match="composite-bytes cap"):
        mm.decode_gif_frames(payload)
    n = sum(1 for _ in mm._iter_gif_frames(payload))
    assert n == 200  # the streaming form walks all frames in O(1 frame)


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=2, max_value=256),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
@example(h=1, w=18, n_pal=2, seed=1, interlace=False)  # found the LZW
# encoder width desync: the final flush emit landed exactly on a width
# boundary and EOI was written one bit narrower than the decoder read it
@settings(max_examples=30, deadline=None)
def test_property_gif_roundtrip(h, w, n_pal, seed, interlace):
    """Any palette size 2..256, any dims, plain or interlaced: encode ->
    decode recovers the exact palette-mapped pixels."""
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (n_pal, 3)).astype(np.uint8)
    idx = rng.randint(0, n_pal, (h, w)).astype(np.uint8)
    px = mm.decode_gif(mm.encode_gif([idx], pal, interlace=interlace))
    assert px.shape == (h, w, 3)
    assert (px == pal[idx]).all()


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
