"""Multimodal columns (X5, SURVEY.md §2.11).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas`` (the only operators in
the engine with a Python row path — everything around them stays JVM-side).

Decode modes: ``fake_decode=True`` (default, the ORACLE path) derives
deterministic SQL-reproducible features from the raw payload bytes so the
whole Arrow pipeline is hash-verifiable; ``fake_decode=False`` (real mode)
decodes actual media — WAV audio via the stdlib ``wave`` module (always
available), PNG images via a stdlib ``zlib`` decoder (always available:
chunk walk + inflate + the five scanline filters, 8-bit gray/RGB/RGBA/
palette, plain or Adam7 interlaced — see ``_decode_png_stdlib``) and
uncompressed 24-bit BMP via stdlib+numpy decoders. Other image formats
go through PIL and video containers through PyAV WHEN IMPORTABLE
(import-guarded: environments without the libraries raise
``NotImplementedError`` with a clear message, and the corresponding tests
skip). The Spark-side plumbing — schema, batch iteration, partition
layout, UDF signatures — is identical in all modes.

Scale notes: media payloads dominate row size, so the pre-UDF plan must
column-prune down to (key, payload) before the Python exchange
(mapInPandas serializes the batch through Arrow), and
``spark.sql.files.maxPartitionBytes`` should be sized so one Arrow batch of
payloads fits executor memory. Feature outputs (small arrays) re-enter the
JVM side for joins/aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata struct carried alongside every media payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|jpeg|wav|mp4...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_SCHEMA, True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("hist", T.ArrayType(T.LongType()), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


# Optional real-decode backends, import-guarded: the engine uses them when
# the environment has them and otherwise raises a clear NotImplementedError
# from the real-mode kernels (fake mode — the oracle path — never needs them).
try:  # pragma: no cover - presence depends on environment
    from PIL import Image as _PILImage

    _HAS_PIL = True
except ImportError:
    _PILImage = None
    _HAS_PIL = False

try:  # pragma: no cover - presence depends on environment
    import av as _av

    _HAS_AV = True
except ImportError:
    _av = None
    _HAS_AV = False


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Decompression-bomb guard, following PIL's public MAX_IMAGE_PIXELS
# precedent: a corrupt/hostile header can declare 65535x65535 and drive a
# multi-GB allocation from a few hundred payload bytes.
MAX_IMAGE_PIXELS = 89_478_485


def _gray_from_rgb(px: "np.ndarray") -> "np.ndarray":
    """PIL's EXACT RGB->L conversion, vectorized: the rounded fixed-point
    ``(19595R + 38470G + 7471B + 0x8000) >> 16`` (ImageCms/convert("L")
    in Pillow's C source). NOT the floor-division ``(299R+587G+114B)//
    1000`` approximation — that form differs by +/-1 for many pixels, so
    the same image could fall in different histogram bins depending on
    whether PIL happens to be installed. ``px`` is (..., >=3) uint
    channels; alpha (if present) is ignored, like PIL RGB->L."""
    import numpy as np

    px = px.astype(np.uint32)
    return (
        (19595 * px[..., 0] + 38470 * px[..., 1] + 7471 * px[..., 2] + 0x8000)
        >> 16
    ).astype(np.uint8)


# Adam7 pass geometry: (row0, col0, row_step, col_step) per pass
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (0, 4, 8, 8),
    (4, 0, 8, 4),
    (0, 2, 4, 4),
    (2, 0, 4, 2),
    (0, 1, 2, 2),
    (1, 0, 2, 1),
)


def _defilter_png(raw: bytes, nrows: int, rowbytes: int, ch: int) -> "np.ndarray":
    """Reverse the five PNG scanline filters over ``nrows`` rows of
    ``rowbytes`` bytes each (every row prefixed by its filter byte).
    Returns the (nrows, rowbytes) byte array. Vectorized where the
    recurrence allows (None/Up elementwise, Sub as a per-lane mod-256
    cumsum); Average and Paeth read the current row's decoded left
    neighbor and stay as honest scalar loops."""
    import numpy as np

    if len(raw) != nrows * (rowbytes + 1):
        raise ValueError("PNG scanline data has unexpected length")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(nrows, rowbytes + 1)
    filters = scan[:, 0]
    img = np.empty((nrows, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    for y in range(nrows):
        f = int(filters[y])
        d = scan[y, 1:]
        if f == 0:  # None
            line = d.copy()
        elif f == 1:  # Sub: per-lane mod-256 cumulative sum
            line = np.empty(rowbytes, dtype=np.uint8)
            for o in range(ch):
                line[o::ch] = np.cumsum(d[o::ch], dtype=np.uint64) & 0xFF
        elif f == 2:  # Up: elementwise, uint8 wraps mod 256
            line = d + prev
        elif f == 3:  # Average: sequential (reads decoded left neighbor)
            buf = bytearray(d.tobytes())
            pv = prev.tobytes()
            for i in range(rowbytes):
                a = buf[i - ch] if i >= ch else 0
                buf[i] = (buf[i] + ((a + pv[i]) >> 1)) & 0xFF
            line = np.frombuffer(bytes(buf), dtype=np.uint8)
        elif f == 4:  # Paeth: sequential (same reason)
            buf = bytearray(d.tobytes())
            pv = prev.tobytes()
            for i in range(rowbytes):
                a = buf[i - ch] if i >= ch else 0
                b = pv[i]
                c = pv[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                buf[i] = (buf[i] + pred) & 0xFF
            line = np.frombuffer(bytes(buf), dtype=np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        img[y] = line
        prev = line
    return img


def _decode_png_pixels(payload: bytes) -> "np.ndarray":
    """REAL PNG decode with the standard library + numpy: chunk walk
    (IHDR/PLTE/IDAT/IEND), inflate, then per-scanline de-filtering (the
    five PNG filters: None/Sub/Up/Average/Paeth). Returns the raw channel
    array — (h, w) for grayscale, (h, w, 3|4) for RGB(A); palette images
    (color type 3) resolve through their PLTE chunk to (h, w, 3).
    Supports grayscale/RGB/RGBA at 8 or 16 bits (16-bit samples
    downconvert to their high byte — the same 16->8 conversion PIL
    applies when reading into 8-bit modes) and 8-bit palette, plain or
    Adam7 interlaced; raises ``NotImplementedError`` for sub-byte
    palette depths, where PIL remains the path.

    De-filtering (``_defilter_png``) is vectorized wherever the
    recurrence allows; the luma conversion and histogramming downstream
    are whole-image numpy ops either way. Adam7 reassembly is a
    per-pass ``np.ix_`` scatter."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr, plte = 8, [], None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc32
        if ctype == b"IHDR":
            if len(data) != 13:
                raise ValueError("PNG IHDR chunk has wrong length")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if h * w > MAX_IMAGE_PIXELS:
        # decompression-bomb guard (PIL MAX_IMAGE_PIXELS precedent): a
        # corrupt header must not drive a multi-GB allocation
        raise ValueError(
            f"PNG declares {h}x{w} = {h * w} pixels, over the "
            f"{MAX_IMAGE_PIXELS} cap"
        )
    if (
        depth not in (8, 16)
        or interlace not in (0, 1)
        or color not in (0, 2, 3, 6)
        or (depth == 16 and color == 3)  # 16-bit palette is not a PNG shape
    ):
        raise NotImplementedError(
            f"stdlib PNG decoder handles 8/16-bit gray/RGB/RGBA and 8-bit "
            f"palette only (got depth={depth}, color={color}, "
            f"interlace={interlace}); install PIL for the rest"
        )
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing a well-formed PLTE chunk")
        palette = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    ch = {0: 1, 2: 3, 3: 1, 6: 4}[color]
    sb = depth // 8  # bytes per sample; PNG filters operate on BYTES
    chb = ch * sb  # filter left-neighbor offset = bytes per pixel
    # Expected inflate output is fully determined by the (already
    # pixel-capped) header: bound the decompress itself so a tiny deflate
    # stream declaring small dimensions cannot allocate past the declared
    # raw size (the MAX_IMAGE_PIXELS cap alone doesn't stop a ~1000:1
    # stream whose HEADER is honest but whose payload over-inflates).
    if interlace == 0:
        expected = h * (w * chb + 1)
    else:
        expected = 0
        for row0, col0, rstep, cstep in _ADAM7_PASSES:
            pw = (w - col0 + cstep - 1) // cstep if w > col0 else 0
            ph = (h - row0 + rstep - 1) // rstep if h > row0 else 0
            if pw > 0 and ph > 0:
                expected += ph * (pw * chb + 1)
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expected + 1)
    except zlib.error as e:
        # corrupt deflate streams must surface under the documented
        # malformed-input contract, not as zlib.error
        raise ValueError(f"corrupt PNG compressed data: {e}") from e
    if len(raw) > expected:
        raise ValueError(
            f"PNG compressed data inflates past the declared "
            f"{expected}-byte raw size"
        )
    if interlace == 0:
        if len(raw) != h * (w * chb + 1):
            raise ValueError("PNG scanline data has unexpected length")
        img = _defilter_png(raw, h, w * chb, chb)
    else:
        # Adam7: seven independently-filtered sub-images, scattered back
        # onto the full grid at each pass's offsets/strides
        img = np.empty((h, w * chb), dtype=np.uint8)
        off = 0
        for row0, col0, rstep, cstep in _ADAM7_PASSES:
            pw = (w - col0 + cstep - 1) // cstep if w > col0 else 0
            ph = (h - row0 + rstep - 1) // rstep if h > row0 else 0
            if pw <= 0 or ph <= 0:
                continue  # empty pass contributes no bytes at all
            nbytes = ph * (pw * chb + 1)
            sub = _defilter_png(raw[off : off + nbytes], ph, pw * chb, chb)
            off += nbytes
            rows = np.arange(row0, h, rstep)
            cols = np.arange(col0, w, cstep)
            sub3 = sub.reshape(ph, pw, chb)
            full = img.reshape(h, w, chb)
            full[np.ix_(rows, cols)] = sub3
        if off != len(raw):
            raise ValueError("PNG interlaced data has unexpected length")
    if sb == 2:
        # 16-bit samples are big-endian on the wire: keep the HIGH byte —
        # the same 16->8 downconversion PIL applies when reading 16-bit
        # PNGs into 8-bit modes
        img = np.ascontiguousarray(img.reshape(h, w * ch, 2)[..., 0])
    if color == 3:
        # palette indices -> RGB (tRNS alpha, if any, is ignored — the
        # same choice the RGBA path makes); out-of-range indices are a
        # malformed file, surfaced loudly rather than clamped
        if int(img.max(initial=0)) >= palette.shape[0]:
            raise ValueError("palette PNG index out of PLTE range")
        return palette[img]
    if ch == 1:
        return img
    return img.reshape(h, w, ch)


def _decode_png_stdlib(payload: bytes) -> bytes:
    """Luma-bytes view of :func:`_decode_png_pixels`: RGB(A) converts to
    grayscale with PIL's exact rounded fixed-point luma
    (:func:`_gray_from_rgb`), so the PIL and stdlib decode paths produce
    bit-identical pixels for the histogram kernel."""
    px = _decode_png_pixels(payload)
    if px.ndim == 2:
        return px.tobytes()
    return _gray_from_rgb(px).tobytes()


def _filter_png_rows(flat: "np.ndarray", ch: int, filter_type: int) -> bytes:
    """Apply one PNG filter to every row of a (nrows, rowbytes) byte
    array, prefixing each row with its filter byte. Supports filters
    0 (None), 1 (Sub), 2 (Up) — enough to differential-test the
    decoder's vectorized de-filter branches from the encoder side."""
    import numpy as np

    out = bytearray()
    prev = np.zeros(flat.shape[1], dtype=np.uint8)
    for line in flat:
        if filter_type == 0:
            enc = line
        elif filter_type == 1:  # Sub: subtract the left neighbor per lane
            left = np.zeros_like(line)
            left[ch:] = line[:-ch]
            enc = line - left
        elif filter_type == 2:  # Up
            enc = line - prev
        else:
            raise ValueError(f"unsupported PNG write filter {filter_type}")
        out += bytes([filter_type]) + enc.tobytes()
        prev = line
    return bytes(out)


def encode_png(
    img: "np.ndarray", interlace: bool = False, filter_type: int = 0
) -> bytes:
    """Encode uint8 pixels — (h, w) grayscale or (h, w, 3) RGB — as an
    8-bit PNG, plain or Adam7-interlaced, with one filter applied to
    every scanline (0/1/2). Exactly the shapes ``_decode_png_pixels``
    reads back, so resize output is verifiable in a closed loop without
    PIL — and the interlace/filter knobs exist to differential-test the
    decoder's pass-reassembly and de-filter paths from an independent
    direction."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color = 0
    elif img.ndim == 3 and img.shape[2] == 3:
        color = 2
    else:
        raise ValueError(f"expected (h,w) or (h,w,3) uint8, got {img.shape}")
    h, w = img.shape[:2]
    ch = 1 if color == 0 else 3

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0)
    full = img.reshape(h, w, ch)
    if not interlace:
        raw = _filter_png_rows(full.reshape(h, w * ch), ch, filter_type)
    else:
        parts = []
        for row0, col0, rstep, cstep in _ADAM7_PASSES:
            sub = full[row0::rstep, col0::cstep]
            if sub.size == 0:
                continue  # empty pass contributes no bytes
            ph, pw = sub.shape[:2]
            parts.append(
                _filter_png_rows(
                    np.ascontiguousarray(sub).reshape(ph, pw * ch),
                    ch,
                    filter_type,
                )
            )
        raw = b"".join(parts)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _decode_bmp_pixels(payload: bytes) -> "np.ndarray":
    """REAL BMP decode, stdlib + numpy: the uncompressed 24-bit BI_RGB
    shape (the overwhelmingly common one). Pixel rows are bottom-up,
    BGR, padded to 4-byte multiples; returns the (h, w, 3) RGB array.
    Fully vectorized (row un-padding, vertical flip, BGR->RGB swizzle) —
    no per-pixel Python. Raises ``NotImplementedError`` for compressed /
    other-depth BMPs."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:
        # file + info headers need 34 bytes before the fields below; a
        # shorter payload would leak struct.error from the unpacks
        raise ValueError("truncated BMP header")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        # BITMAPCOREHEADER (12 bytes): width/height are 16-bit fields at
        # different offsets — parsing it with the INFOHEADER layout below
        # would silently decode garbage dimensions
        raise NotImplementedError(
            f"stdlib BMP decoder handles BITMAPINFOHEADER (>=40 bytes) "
            f"only (got header size {hdr_size})"
        )
    hdr_size, w, h, _planes, depth, compression = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if depth != 24 or compression != 0:
        raise NotImplementedError(
            f"stdlib BMP decoder handles uncompressed 24-bit only "
            f"(got depth={depth}, compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    if w <= 0 or h == 0:
        # negative width / zero height are malformed (width is a signed
        # field; a negative value would silently read the whole buffer
        # through the negative-count frombuffer below)
        raise ValueError(f"BMP declares invalid dimensions {w}x{h}")
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte multiples
    data = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    )
    px = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        px = px[::-1]
    # stored BGR: reverse the channel axis to RGB
    return px[..., ::-1]


def _decode_bmp_stdlib(payload: bytes) -> bytes:
    """Luma-bytes view of :func:`_decode_bmp_pixels` (PIL's exact
    rounded fixed-point luma, same as the PNG path)."""
    return _gray_from_rgb(_decode_bmp_pixels(payload)).tobytes()


def _decode_image_bytes(payload: bytes, fake: bool) -> list[int]:
    """Image decode kernel. Fake mode (the ORACLE path) derives a
    deterministic 8-bin byte histogram from the raw payload (exact integer
    counts — SQL-reproducible, so the oracle gate can hash-verify the whole
    Arrow pipeline; the normalized float 'feature' is derived from it).
    Real mode: PIL when importable (any format); otherwise PNG/BMP
    payloads decode via the stdlib decoders (real pixels, zero
    third-party deps) and every other format raises. Both real paths
    produce the same grayscale pixel-intensity histogram in the same 8
    bins: the stdlib PNG/BMP pixels are bit-identical to PIL's."""
    if not fake:
        if _HAS_PIL:
            import io

            with _PILImage.open(io.BytesIO(payload)) as img:
                pixels = img.convert("L").tobytes()
        elif payload[:8] == _PNG_SIG:
            pixels = _decode_png_stdlib(payload)
        elif payload[:2] == b"BM":
            pixels = _decode_bmp_stdlib(payload)
        else:
            raise NotImplementedError(
                "real image decode needs PIL for formats other than "
                "PNG/BMP (not installed in this environment); those "
                "decode via the stdlib paths, or run with "
                "fake_decode=True for the deterministic oracle kernel"
            )
        src = pixels
    else:
        src = payload
    # vectorized 8-bin histogram (exact integer counts — identical to the
    # former per-byte loop, minus the per-byte Python)
    import numpy as np

    arr = np.frombuffer(src, dtype=np.uint8)
    return np.bincount(arr >> 5, minlength=8).tolist()


def extract_image_features(df: DataFrame, fake_decode: bool = True) -> DataFrame:
    """X5 — payload -> fixed-size feature vector via ``mapInPandas``.

    Input df must contain (media_id, payload). The plan projects to exactly
    those two columns before the Arrow exchange (keep payload bytes out of
    every other operator). Batch shape: pandas DataFrame per Arrow batch;
    output rows align 1:1 with input rows.
    """
    pruned = df.select("media_id", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hists = [
                None if p is None else _decode_image_bytes(bytes(p), fake_decode)
                for p in pdf["payload"]
            ]
            # normalize by the histogram mass — pixel count in real mode,
            # payload bytes in fake mode (where the two coincide, so the
            # oracle bits are unchanged). Dividing by len(payload) would
            # make real-mode features sum to pixels/compressed-bytes
            # instead of 1.0, silently diverging from fake mode.
            feats = [
                None if h is None else [c / max(sum(h), 1) for c in h]
                for h in hists
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [0 if p is None else len(p) for p in pdf["payload"]],
                    "hist": hists,
                    "feature": feats,
                }
            )

    return pruned.mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sum_sq", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
    ]
)


def _audio_features_from_samples(samples) -> tuple[int, int, float, int]:
    """(n_samples, sum of squared amplitudes, rms, zero-crossing count)
    over an integer sample sequence — shared by the fake and real paths so
    both modes report the same feature definitions."""
    n = max(len(samples), 1)
    sum_sq = sum(int(s) * int(s) for s in samples)
    rms = (sum_sq / n) ** 0.5
    zc = sum(1 for a, b in zip(samples, samples[1:]) if (a >= 0) != (b >= 0))
    return len(samples), sum_sq, rms, zc


def _decode_audio_bytes(payload: bytes, fake: bool) -> tuple[int, int, float, int]:
    """Audio decode kernel. Fake mode (the ORACLE path) treats the raw
    bytes as a centered int8 waveform — integer outputs are exact and
    SQL-reproducible (oracle hash parity); rms is derived from them. Real
    mode parses the payload as a WAV container via the stdlib ``wave``
    module (no third-party dependency): PCM-16 or PCM-8 frames become the
    integer sample stream (channels interleaved — features are over the
    flat stream), then the same feature arithmetic applies. Malformed
    payloads raise ``ValueError`` (the stdlib's ``wave.Error`` is
    normalized so all media decoders share one malformed-input
    contract)."""
    if not fake:
        import array
        import io
        import wave

        import sys

        try:
            with wave.open(io.BytesIO(payload), "rb") as w:
                sw = w.getsampwidth()
                raw = w.readframes(w.getnframes())
        except (wave.Error, EOFError, RuntimeError) as e:
            # normalize to the malformed-input contract every other media
            # decoder follows; wave.Error subclasses Exception, and the
            # stdlib chunk reader raises a BARE RuntimeError on malformed
            # chunk sizes (wave.py _Chunk.seek) — both only ever reach
            # here from inside the wave calls this try wraps
            raise ValueError(f"malformed WAV payload: {e}") from e
        if sw == 2:
            arr = array.array("h")
            arr.frombytes(raw)
            if sys.byteorder == "big":
                arr.byteswap()  # WAV PCM frames are little-endian on disk
            samples = arr.tolist()
        elif sw == 1:
            samples = [b - 128 for b in raw]  # WAV 8-bit PCM is unsigned
        else:
            raise NotImplementedError(
                f"real audio decode supports PCM-8/PCM-16 WAV; got "
                f"sample width {sw}"
            )
        return _audio_features_from_samples(samples)
    return _audio_features_from_samples([b - 128 for b in payload])


def extract_audio_features(df: DataFrame, fake_decode: bool = True) -> DataFrame:
    """X5 — audio payload -> scalar features via ``mapInPandas``. Input df
    must contain (media_id, payload, meta); metadata passes through JVM-side,
    only (media_id, payload) crosses the Arrow boundary with the meta fields
    pre-projected."""
    pruned = df.select(
        "media_id",
        "payload",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.sample_rate").alias("sample_rate"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb, ssq, rms, zc = [], [], [], []
            for p in pdf["payload"]:
                if p is None:
                    nb.append(None)
                    ssq.append(None)
                    rms.append(None)
                    zc.append(None)
                else:
                    n_, s_, r, z = _decode_audio_bytes(bytes(p), fake_decode)
                    nb.append(n_)
                    ssq.append(s_)
                    rms.append(r)
                    zc.append(z)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "duration_ms": pdf["duration_ms"],
                    "sample_rate": pdf["sample_rate"],
                    "n_samples": nb,
                    "sum_sq": ssq,
                    "rms": rms,
                    "zero_crossings": zc,
                }
            )

    return pruned.mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


def _resize_nearest(px: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Nearest-neighbor center-sampling resize of an (h, w[, ch]) array:
    output pixel i samples source index floor((i + 0.5) * src/dst). The
    stdlib fallback for real-mode resize — PIL's default bicubic
    resampling differs (smoother); this path exists so resize works on
    real pixels without PIL, with honestly-simpler resampling."""
    import numpy as np

    sh, sw = px.shape[:2]
    ys = np.minimum(((np.arange(height) + 0.5) * sh / height).astype(np.int64), sh - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * sw / width).astype(np.int64), sw - 1)
    return px[ys][:, xs]


def _resize_real_stdlib(payload: bytes, width: int, height: int) -> bytes:
    """PIL-free real resize: decode PNG/BMP via the stdlib decoders,
    nearest-neighbor resize, re-encode as PNG (gray payloads stay gray,
    color stays RGB; PNG alpha is dropped — :func:`encode_png` emits
    gray/RGB)."""
    if payload[:8] == _PNG_SIG:
        px = _decode_png_pixels(payload)
        if px.ndim == 3 and px.shape[2] == 4:
            px = px[..., :3]
    elif payload[:2] == b"BM":
        px = _decode_bmp_pixels(payload)
    else:
        raise NotImplementedError(
            "real image resize without PIL handles PNG/BMP payloads; "
            "install PIL for other formats or run with fake_decode=True "
            "for the pass-through kernel"
        )
    return encode_png(_resize_nearest(px, width, height))


def resize_images(df: DataFrame, width: int, height: int, fake_decode: bool = True) -> DataFrame:
    """X5 — image resize: binary->binary mapInPandas (the shape of any
    re-encode transform). Fake mode passes the payload through (the
    deterministic oracle path); real mode decodes with PIL when
    importable (keeping PIL's bicubic resampling), otherwise falls back
    to the stdlib decode + nearest-neighbor path for PNG/BMP
    (:func:`_resize_real_stdlib`); both re-encode as PNG."""
    if width <= 0 or height <= 0:
        # validate at plan-build time, like every_ms in frame sampling:
        # a zero target would otherwise surface as an opaque encoder /
        # PIL error inside the executor
        raise ValueError(
            f"resize target must be >= 1x1 (got {width}x{height})"
        )
    pruned = df.select("media_id", "payload")
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
        ]
    )

    def _resize_real(payload):
        import io

        if payload is None:
            return None
        if not _HAS_PIL:
            return _resize_real_stdlib(bytes(payload), width, height)
        with _PILImage.open(io.BytesIO(bytes(payload))) as img:
            out = io.BytesIO()
            img.resize((width, height)).save(out, format="PNG")
            return out.getvalue()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake_decode:
                payloads = [_resize_real(p) for p in pdf["payload"]]
            else:
                payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": width,
                    "height": height,
                }
            )

    return pruned.mapInPandas(kernel, out_schema)


def _frame_selector(every_ms: int):
    """Boundary-selection kernel of real-mode frame sampling: returns a
    ``take(ts_ms) -> bool`` deciding, frame by frame in stream order,
    whether this is the first frame at/after the current ``every_ms``
    boundary. Factored out of the PyAV path so the GAP behavior is
    testable without a video decoder: after a capture the boundary snaps
    PAST the captured timestamp (``(ts // every_ms + 1) * every_ms``) —
    a plain ``+= every_ms`` would leave the boundary behind after a
    stream gap and re-capture the following frames in a stale burst, one
    per boundary the gap skipped."""
    next_boundary = 0

    def take(ts_ms: int) -> bool:
        nonlocal next_boundary
        if ts_ms >= next_boundary:
            next_boundary = (ts_ms // every_ms + 1) * every_ms
            return True
        return False

    return take


def sample_video_frames(
    df: DataFrame, every_ms: int = 1000, fake_decode: bool = True
) -> DataFrame:
    """X5 — frame sampling: one output row per sampled frame (row EXPLOSION
    inside mapInPandas — output rows != input rows, the shape built-in UDFs
    can't express). Fake mode emits one 'frame' per ``every_ms`` of
    meta.duration_ms (deterministic oracle path); real mode decodes the
    container with PyAV (without PyAV it raises ``NotImplementedError``),
    grabbing the first frame at or after each ``every_ms`` boundary and
    re-encoding it as PNG. NULL payloads produce no frames in EITHER mode
    (missing media has no frames to sample — fake mode must not invent
    rows the real decoder cannot emit)."""
    if every_ms <= 0:
        # validate at plan-build time: in the fake kernel a zero would be
        # an executor-side ZeroDivisionError, in the real kernel it would
        # silently capture every frame
        raise ValueError(f"every_ms must be >= 1 (got {every_ms})")
    pruned = df.select("media_id", "payload", F.col("meta.duration_ms").alias("duration_ms"))
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("ts_ms", T.LongType(), False),
            T.StructField("frame_payload", T.BinaryType(), True),
        ]
    )

    def _frames_real(payload):
        """[(ts_ms, png_bytes)] for the first frame at/after each boundary,
        decoded with PyAV (any container/codec). Only SELECTED frames are
        re-encoded."""
        import io

        if not _HAS_AV:
            raise NotImplementedError(
                "real frame extraction needs PyAV (not installed in this "
                "environment); run with fake_decode=True for the "
                "deterministic oracle kernel"
            )
        take = _frame_selector(every_ms)
        out = []
        with _av.open(io.BytesIO(bytes(payload))) as container:
            stream = container.streams.video[0]
            # streamed decode: only SELECTED frames are re-encoded/held
            for frame in container.decode(stream):
                ts_ms = int((frame.time or 0.0) * 1000)
                if take(ts_ms):
                    buf = io.BytesIO()
                    frame.to_image().save(buf, format="PNG")
                    out.append((ts_ms, buf.getvalue()))
        return out

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "ts_ms": [], "frame_payload": []}
            if not fake_decode:
                for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                    if payload is None:
                        continue
                    for i, (ts_ms, png) in enumerate(_frames_real(payload)):
                        out["media_id"].append(mid)
                        out["frame_idx"].append(i)
                        out["ts_ms"].append(ts_ms)
                        out["frame_payload"].append(png)
                yield pd.DataFrame(out)
                continue
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                if payload is None:
                    continue  # parity with the real path's NULL skip
                n = max(int((dur or 0) // every_ms), 1)
                for i in range(n):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(i * every_ms)
                    out["frame_payload"].append(payload)
            yield pd.DataFrame(out)

    return pruned.mapInPandas(kernel, out_schema)


def derived_media_table(docs: DataFrame) -> DataFrame:
    """Deterministic media table DERIVED IN-PLAN from the documents table:
    payload bytes are an md5-chain over the text (``unhex(md5(text||':0')
    || ... || md5(text||':3'))`` truncated to a per-doc length), metadata is
    a pure function of doc_id. Because every byte is expressible in ANSI
    SQL, a DuckDB oracle can reconstruct the EXACT payloads and verify the
    mapInPandas decode kernels end-to-end by value hash — this is what
    upgrades the X5 queries from rows-only to hash-checked.

    The plan is map-only (no shuffle): one projection over the documents
    scan. Payload length varies 16..64 bytes so histogram/zero-crossing
    paths see non-uniform inputs. doc_id % 3: 0=image, 1=video, 2=audio.
    """
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("video"), F.lit("audio")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    blen = (F.lit(16) + F.pmod(F.col("doc_id"), F.lit(49))).cast("int")
    hx = F.concat(
        *[F.md5(F.concat(F.col("text"), F.lit(f":{i}"))) for i in range(4)]
    )
    payload = F.unhex(F.substring(hx, F.lit(1), blen * 2))
    is_img = mt == "image"
    is_vid = mt == "video"
    is_aud = mt == "audio"
    dur = (F.lit(500) + F.pmod(F.col("doc_id"), F.lit(7)) * 700).cast("long")
    meta = F.struct(
        mt.alias("media_type"),
        F.when(is_img, "png")
        .when(is_vid, "mp4")
        .otherwise("wav")
        .alias("format"),
        F.when(is_img, 32).when(is_vid, 640).cast("int").alias("width"),
        F.when(is_img, 32).when(is_vid, 480).cast("int").alias("height"),
        F.when(is_vid | is_aud, dur).alias("duration_ms"),
        F.when(is_aud, 16000).cast("int").alias("sample_rate"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload"), meta.alias("meta")
    )


def synthetic_media_table(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded bytes)."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        payload = bytes(rng.randrange(256) for _ in range(rng.randrange(64, 256)))
        if i % 3 == 0:
            meta = ("image", "png", 32, 32, None, None)
        elif i % 3 == 1:
            meta = ("video", "mp4", 640, 480, 3500, None)
        else:
            meta = ("audio", "wav", None, None, 2000, 16000)
        rows.append((i, payload, meta))
    # a 64-row local table must not fan out to default parallelism (32
    # partitions -> 32 Python workers for 2 rows each in mapInPandas);
    # real media tables come from parquet with size-based partitioning
    n_parts = max(1, min(4, n // 16))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(n_parts)
