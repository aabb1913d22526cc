"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
this module provides the real Spark plumbing — schemas, batch shapes,
partitioning-friendly signatures.  PNG (stdlib codec below), JPEG
(``operators/jpeg.py``, pure numpy huffman+IDCT — baseline-sequential
AND progressive SOF2), GIF (``operators/gif.py``, real LZW),
WebP — BOTH lossless VP8L (``operators/webp.py``: transforms,
meta-huffman, LZ77, color cache) and lossy VP8 (``operators/vp8.py``:
full RFC 6386 key-frame decode, bit-exact vs libwebp, incl. ALPH
alpha) — and uncompressed BMP all decode for REAL (AVIF/HEIC walk
their meta tree for dims/codec/profile, decode honestly NULL); so do WAV/PCM
audio (``operators/wav.py``) and GIF-animation / uncompressed-AVI
video frames (``decode_gif_frames``, ``operators/avi.py``).  Each
decode UDF:

* validates magic bytes / container headers itself (real, tested);
* decodes PNG, JPEG, GIF, WebP-lossless, and BMP payloads to true
  pixels, WAV to true samples, GIF/AVI videos to true frames;
* emits deterministic fake features when ``allow_stub=True`` (default),
  so pipelines are end-to-end runnable;
* raises ``NotImplementedError`` naming the missing codec otherwise.

The batch interface is ``mapInPandas`` over Arrow record batches — the
binary payloads cross the JVM↔Python boundary exactly once.
"""

from __future__ import annotations

import hashlib
import struct as _struct
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..batch import map_rows

__all__ = [
    "MEDIA_SCHEMA",
    "sniff_media_type",
    "encode_png",
    "decode_png",
    "decode_image",
    "image_meta_df",
    "image_pixel_stats_df",
    "image_features_df",
    "image_resize_df",
    "apply_exif_orientation",
    "audio_pcm_stats_df",
    "audio_container_meta_df",
    "video_meta_df",
    "video_frame_sample_df",
]

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"RIFF", "audio/wav-or-webp"),  # refined below
    (b"ID3", "audio/mpeg"),
    (b"OggS", "audio/ogg"),
    (b"fLaC", "audio/flac"),
    (b"\x1a\x45\xdf\xa3", "video/x-matroska-or-webm"),  # EBML, refined below
    (b"%PDF-", "application/pdf"),
    (b"BM", "image/bmp"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
]


def sniff_media_type(payload: Optional[bytes]) -> Optional[str]:
    """Magic-byte sniffing — real logic, no codec needed."""
    if not payload:
        return None
    # ISO-BMFF (mp4/mov/m4a...): size(4) + 'ftyp' + major brand at 8..12
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        brand = payload[8:12]
        if brand in (b"M4A ", b"M4B "):
            return "audio/mp4"
        if brand == b"qt  ":
            return "video/quicktime"
        if brand in (b"avif", b"avis"):
            return "image/avif"
        if brand in (b"heic", b"heix", b"hevc", b"heim", b"mif1"):
            return "image/heif"
        return "video/mp4"
    for magic, mime in _MAGIC:
        if payload.startswith(magic):
            if mime == "audio/wav-or-webp":
                if payload[8:12] == b"WEBP":
                    return "image/webp"
                if payload[8:12] == b"WAVE":
                    return "audio/wav"
                if payload[8:12] == b"AVI ":
                    return "video/x-msvideo"
                return "application/riff"
            if mime == "video/x-matroska-or-webm":
                # EBML DocType string distinguishes webm from mkv
                head = payload[:64]
                if b"webm" in head:
                    return "video/webm"
                return "video/x-matroska"
            return mime
    # MPEG transport stream (HLS segment): 0x47 sync repeating on the
    # 188-byte lattice — two aligned sync bytes are required, so a lone
    # 'G' never matches
    if (
        len(payload) >= 2 * 188
        and payload[0] == 0x47
        and payload[188] == 0x47
        and (len(payload) < 3 * 188 or payload[376] == 0x47)
    ):
        return "video/mp2t"
    # raw MPEG-audio sync (no ID3 prefix): FF Ex/Fx with a valid
    # (non-reserved) version + Layer III — checked after _MAGIC so the
    # JPEG FF D8 FF prefix has already matched above
    if (
        len(payload) >= 4
        and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
        and ((payload[1] >> 3) & 0x03) != 1
        and ((payload[1] >> 1) & 0x03) == 0b01
    ):
        return "audio/mpeg"
    return "application/octet-stream"


def _png_dims(payload: bytes) -> Optional[tuple]:
    # real header parse: IHDR is the first chunk after the 8-byte signature
    if len(payload) >= 24 and payload[12:16] == b"IHDR":
        w, h = _struct.unpack(">II", payload[16:24])
        return int(w), int(h)
    return None


# ------------------------------------------------------------------ #
# Stdlib PNG codec (zlib + per-spec scanline filters) — no image
# library needed, same spirit as the codec-free PDF leg in pdf.py.
# Covers 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
# 4 (gray+alpha), 6 (RGBA), no interlace.  PNG spec: RFC 2083 /
# https://www.w3.org/TR/png/ §9 (filter algorithms).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CH_TO_COLORTYPE = {1: 0, 2: 4, 3: 2, 4: 6}
_COLORTYPE_TO_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    # a = left, b = up, c = upper-left (PNG spec §9.4)
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_filter_rows(sub, ch: int, row_filter, y_base: int) -> list:
    """Filter the rows of one (sequential or Adam7-pass) sub-image.
    ``sub`` is (h, w, ch) uint8; ``row_filter(y_base + y) -> 0..4``.
    The up-reference (prev) resets at the sub-image top, per spec."""
    import numpy as np

    h, w, _ = sub.shape
    bpp = ch
    raw = sub.reshape(h, w * ch).astype(np.int32)
    prev = np.zeros(w * ch, dtype=np.int32)
    lines = []
    for y in range(h):
        f = int(row_filter(y_base + y)) if row_filter is not None else 0
        cur = raw[y]
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        upleft = np.zeros_like(cur)
        upleft[bpp:] = prev[:-bpp]
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - (left + prev) // 2
        elif f == 4:
            pred = np.fromiter(
                (_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prev, upleft)),
                dtype=np.int32,
                count=w * ch,
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad filter {f}")
        lines.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
        prev = cur
    return lines


def encode_png(pixels, row_filter=None, interlace: bool = False) -> bytes:
    """Minimal real PNG encoder: (h, w, ch) uint8 array → PNG bytes
    with valid chunk CRCs.  ``row_filter(y) -> 0..4`` selects the
    scanline filter per row (default 0) — the test corpus cycles all
    five so decode exercises every unfilter path.  ``interlace=True``
    writes the Adam7 seven-pass layout (each pass independently
    filtered, empty passes omitted, per spec)."""
    import numpy as np
    import zlib

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if interlace:
        lines = []
        y_base = 0
        for x0, y0, xs, ys in _ADAM7:
            sub = arr[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            lines.extend(_png_filter_rows(sub, ch, row_filter, y_base))
            y_base += sub.shape[0]
    else:
        lines = _png_filter_rows(arr, ch, row_filter, 0)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + typ
            + data
            + _struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(
        ">IIBBBBB", w, h, 8, _CH_TO_COLORTYPE[ch], 0, 0, 1 if interlace else 0
    )
    idat = zlib.compress(b"".join(lines), 6)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


# Adam7 pass lattice: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, p: int, w: int, h: int, ch: int):
    """Unfilter ``h`` scanlines of ``w`` pixels starting at offset ``p``
    of the inflated stream; returns ((h, w*ch) uint8 array, next offset)
    or None on truncation / bad filter byte."""
    import numpy as np

    stride = w * ch
    if len(raw) - p < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[p]
        p += 1
        line = np.frombuffer(raw, np.uint8, stride, p).astype(np.int32)
        p += stride
        if f == 0:
            cur = line
        elif f == 1:
            # recon[i] = raw[i] + recon[i-bpp]: a per-channel prefix sum
            cur = (line.reshape(w, ch).cumsum(axis=0) % 256).reshape(stride)
        elif f == 2:
            cur = (line + prev) % 256
        elif f == 3:
            cur = np.empty(stride, np.int32)
            for i in range(stride):
                left = cur[i - ch] if i >= ch else 0
                cur[i] = (line[i] + (left + prev[i]) // 2) % 256
        elif f == 4:
            cur = np.empty(stride, np.int32)
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                cur[i] = (line[i] + _paeth(int(a), int(prev[i]), int(c))) % 256
        else:
            return None
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out, p


def decode_png(payload: Optional[bytes]):
    """Stdlib PNG decode: chunk walk (CRC-verified) → zlib inflate →
    per-spec scanline unfiltering, sequential or Adam7-interlaced.
    Returns (w, h, ch, pixels) with pixels an (h, w, ch) uint8 numpy
    array, or None for anything this decoder does not cover (non-8-bit,
    corrupt)."""
    import numpy as np
    import zlib

    if not payload or not payload.startswith(_PNG_SIG):
        return None
    pos = 8
    n = len(payload)
    w = h = None
    color_type = bit_depth = None
    interlace = 0
    palette = None
    idat = []
    while pos + 12 <= n:
        (ln,) = _struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        if pos + 12 + ln > n:
            return None  # truncated chunk (data or CRC missing)
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = _struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            return None
        pos += 12 + ln
        if typ == b"IHDR":
            w, h = _struct.unpack(">II", data[:8])
            bit_depth, color_type, _comp, _filt, interlace = data[8:13]
        elif typ == b"PLTE":
            palette = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    ch = _COLORTYPE_TO_CH.get(color_type)
    if w is None or not idat or ch is None or bit_depth != 8 or interlace > 1:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    if interlace == 0:
        got = _png_unfilter(raw, 0, w, h, ch)
        if got is None:
            return None
        out, _ = got
        px = out.reshape(h, w, ch)
    else:
        # Adam7: seven independently-filtered sub-images, scattered back
        # on the (x0, y0, xstep, ystep) lattice per pass
        px = np.zeros((h, w, ch), dtype=np.uint8)
        p = 0
        for x0, y0, xs, ys in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            got = _png_unfilter(raw, p, pw, ph, ch)
            if got is None:
                return None
            sub, p = got
            px[y0::ys, x0::xs] = sub.reshape(ph, pw, ch)
    if color_type == 3:
        if palette is None:
            return None
        pal = np.frombuffer(palette, np.uint8).reshape(-1, 3)
        px = pal[px[:, :, 0]]
        ch = 3
    return int(w), int(h), int(ch), px


def decode_bmp(payload: Optional[bytes]):
    """Uncompressed BMP decode (BITMAPINFOHEADER, 8/24/32 bpp, BI_RGB):
    bottom-up or top-down rows, 4-byte row padding, BGR(A)→RGB(A),
    8-bit palette expansion.  Returns (w, h, ch, pixels) or None."""
    import numpy as np

    try:
        if not payload or len(payload) < 54 or payload[:2] != b"BM":
            return None
        (data_off,) = _struct.unpack("<I", payload[10:14])
        (hdr_size,) = _struct.unpack("<I", payload[14:18])
        if hdr_size < 40:
            return None  # BITMAPCOREHEADER out of scope
        w, h = _struct.unpack("<ii", payload[18:26])
        bpp, comp = _struct.unpack("<HI", payload[28:34])
        top_down = h < 0
        h = abs(h)
        if w <= 0 or h == 0 or comp != 0 or bpp not in (8, 24, 32):
            return None
        stride = (w * bpp // 8 + 3) // 4 * 4
        if data_off + stride * h > len(payload):
            return None
        raw = np.frombuffer(payload, np.uint8, stride * h, data_off).reshape(
            h, stride
        )
        if not top_down:
            raw = raw[::-1]
        if bpp == 8:
            # palette: BGRX quads between header and pixel data
            pal_off = 14 + hdr_size
            n_colors = _struct.unpack("<I", payload[46:50])[0] or 256
            pal = np.frombuffer(
                payload, np.uint8, n_colors * 4, pal_off
            ).reshape(-1, 4)[:, [2, 1, 0]]
            idx = raw[:, :w].astype(np.int64)
            if idx.max() >= pal.shape[0]:
                return None
            return int(w), int(h), 3, pal[idx].astype(np.uint8)
        ch = bpp // 8
        px = raw[:, : w * ch].reshape(h, w, ch)
        if ch == 3:
            return int(w), int(h), 3, px[:, :, [2, 1, 0]].copy()
        return int(w), int(h), 4, px[:, :, [2, 1, 0, 3]].copy()
    except (_struct.error, ValueError, IndexError):
        return None


def decode_image(payload: Optional[bytes]):
    """Best-effort pixel decode: PNG (stdlib codec), JPEG
    (``operators/jpeg.py``), GIF first frame (``operators/gif.py``),
    uncompressed BMP.  Returns (w, h, ch, pixels) or None when no
    in-repo codec covers the payload — the caller decides NULL vs
    raise.  The contract is uint8 samples: 12-bit JPEG sources are
    presented as their 8-bit view (sample >> 4) so every downstream
    operator (stats, resize, re-encode) sees one sample domain; use
    ``jpeg.decode_jpeg`` directly for full 12-bit values."""
    dec = decode_png(payload)
    if dec is not None:
        return dec
    from hquery_php_spark.operators.jpeg import decode_jpeg

    dec = decode_jpeg(payload)
    if dec is not None:
        import numpy as np

        w, h, ch, px = dec
        if px.dtype != np.uint8:  # 12-bit frame → uniform 8-bit view
            px = (px >> 4).astype(np.uint8)
        return w, h, ch, px
    from hquery_php_spark.operators.gif import decode_gif

    dec = decode_gif(payload)
    if dec is not None:
        return dec
    dec = decode_bmp(payload)
    if dec is not None:
        return dec
    from hquery_php_spark.operators.tiff import decode_tiff

    dec = decode_tiff(payload)
    if dec is not None:
        return dec
    from hquery_php_spark.operators.webp import decode_webp

    return decode_webp(payload)


def image_meta_df(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Sniff mime + header dimensions per row (PNG IHDR / JPEG SOF /
    GIF LSD / WebP / TIFF IFD / AVIF+HEIC ispe via the ISO-BMFF meta
    walk) — header parsing only, no pixel decode.  ``orientation`` is
    the EXIF tag-274 value (1..8) for JPEGs carrying an APP1 EXIF
    block, NULL otherwise — the field a resize stage must consult
    before touching pixels."""
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("mime", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("n_bytes", IntegerType()),
            StructField("orientation", IntegerType()),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    def row(mid, p):
        payload = bytes(p) if p is not None else None
        mime = sniff_media_type(payload)
        orient = None
        if payload and mime == "image/png":
            dims = _png_dims(payload)
        elif payload and mime == "image/jpeg":
            from hquery_php_spark.operators.jpeg import (
                jpeg_dims,
                jpeg_exif_orientation,
            )

            dims = jpeg_dims(payload)
            orient = jpeg_exif_orientation(payload)
        elif payload and mime == "image/gif":
            from hquery_php_spark.operators.gif import gif_dims

            dims = gif_dims(payload)
        elif payload and mime == "image/webp":
            from hquery_php_spark.operators.webp import webp_dims

            dims = webp_dims(payload)
        elif payload and mime == "image/tiff":
            from hquery_php_spark.operators.tiff import tiff_dims

            dims = tiff_dims(payload)
        elif payload and mime in ("image/avif", "image/heif"):
            from hquery_php_spark.operators.heif import heif_meta

            hm = heif_meta(payload)
            dims = (hm["width"], hm["height"]) if hm else None
        elif payload and mime == "image/bmp" and len(payload) >= 26:
            import struct as _s

            bw, bh = _s.unpack_from("<ii", payload, 18)
            dims = (bw, abs(bh)) if bw > 0 and bh else None
        else:
            dims = None
        return [(
            mid,
            mime,
            dims[0] if dims else None,
            dims[1] if dims else None,
            len(payload) if payload else 0,
            orient,
        )]

    return map_rows(narrow, schema, row)


def image_pixel_stats_df(
    df: DataFrame,
    payload_col: str = "payload",
    allow_stub: bool = True,
) -> DataFrame:
    """REAL image features from decoded pixels (no image library:
    ``decode_png`` + the baseline-JPEG codec via ``decode_image``).
    Per image: dimensions, exact per-channel pixel sums (engine-neutral
    integers) and rounded channel means.  Grayscale promotes to r=g=b;
    missing alpha reads as opaque 255.

    Payloads no in-repo codec covers (WebP, animated-beyond-frame-1)
    yield NULL stats when ``allow_stub`` (default) or
    raise ``NotImplementedError`` naming the missing codec otherwise —
    the honest boundary until a decoder library is present.

    Only exact integers leave the UDF (Python's round() is banker's
    rounding — half-to-even — while both Spark and DuckDB round half
    away from zero; derive rounded means JVM-side from the sums)."""
    import numpy as np

    from pyspark.sql.types import LongType

    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("n_px", IntegerType()),
            StructField("sum_r", LongType()),
            StructField("sum_g", LongType()),
            StructField("sum_b", LongType()),
            StructField("sum_a", LongType()),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    def row(mid, p):
        payload = bytes(p) if p is not None else None
        dec = decode_image(payload)
        if dec is None:
            if not allow_stub:
                raise NotImplementedError(
                    f"no codec for payload of media_id={mid} "
                    f"(mime {sniff_media_type(payload)}); only PNG, "
                    "baseline JPEG, and GIF decode without an "
                    "image library"
                )
            return [(mid,) + (None,) * 7]
        w, h, ch, px = dec
        px = px.astype(np.int64)
        if ch == 1:
            r = g = b = px[:, :, 0]
            a = None
        elif ch == 2:
            r = g = b = px[:, :, 0]
            a = px[:, :, 1]
        elif ch == 3:
            r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
            a = None
        else:
            r, g, b, a = (px[:, :, i] for i in range(4))
        n_px = w * h
        sa = int(a.sum()) if a is not None else 255 * n_px
        return [(mid, w, h, n_px, int(r.sum()), int(g.sum()), int(b.sum()), sa)]

    return map_rows(narrow, schema, row)


def _fake_features(payload: bytes, dim: int) -> list:
    """Deterministic stand-in for a codec+model feature extractor: the
    sha256 of the payload expanded to ``dim`` floats in [-1, 1)."""
    out = []
    seed = payload or b""
    h = b""
    while len(out) < dim:
        h = hashlib.sha256(h + seed).digest()
        for i in range(0, len(h) - 1, 2):
            if len(out) >= dim:
                break
            v = int.from_bytes(h[i : i + 2], "big")
            out.append((v - 32768) / 32768.0)
    return out


def image_features_df(
    df: DataFrame,
    payload_col: str = "payload",
    dim: int = 64,
    allow_stub: bool = True,
) -> DataFrame:
    """Decode → resize → embed. The codec step is a STUB: with
    ``allow_stub`` (default) a deterministic fake embedding is emitted so
    the Spark plumbing (schema, batching, downstream ANN joins) runs end
    to end; with ``allow_stub=False`` this raises ``NotImplementedError``
    — wire a real decoder (PIL/torchvision) on a cluster that has one."""
    if not allow_stub:
        raise NotImplementedError(
            "image decode requires an image codec (PIL/libjpeg) not present "
            "in this environment; pass allow_stub=True for the deterministic "
            "fake-feature path"
        )
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    return map_rows(
        narrow,
        schema,
        lambda mid, p: [
            (mid, _fake_features(bytes(p) if p is not None else b"", dim))
        ],
    )


def _nearest_resample(px, ow: int, oh: int):
    """Deterministic nearest-neighbor (center-sampled) resample of an
    (h, w, ch) uint8 array to (oh, ow, ch) — pure index gather, no
    float accumulation, identical on every platform."""
    import numpy as np

    h, w = px.shape[:2]
    ys = np.minimum(((np.arange(oh) + 0.5) * h / oh).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(ow) + 0.5) * w / ow).astype(np.int64), w - 1)
    return px[ys[:, None], xs[None, :]]


def apply_exif_orientation(px, orientation):
    """Normalize a decoded (h, w, ch) raster to EXIF orientation 1.
    The eight standard corrections (EXIF tag 274 value = where the
    stored row-0/col-0 lands): 2 mirror, 3 rot180, 4 flip, 5 transpose
    (main diagonal), 6 rot90 CW, 7 transverse (anti-diagonal), 8 rot90
    CCW.  Unknown/None values return the raster unchanged."""
    import numpy as np

    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1]
    if orientation == 5:
        return px.transpose(1, 0, 2)
    if orientation == 6:
        return np.rot90(px, k=3)
    if orientation == 7:
        return px[::-1, ::-1].transpose(1, 0, 2)
    if orientation == 8:
        return np.rot90(px, k=1)
    return px


def image_resize_df(
    df: DataFrame,
    payload_col: str = "payload",
    target: int = 64,
    allow_stub: bool = True,
) -> DataFrame:
    """REAL resize for PNG and baseline-JPEG payloads: decode
    (``decode_image``) → aspect-preserving nearest-neighbor resample
    into ``target``×``target`` → re-encode as PNG (the deterministic
    output container; gray+alpha/RGBA survive, palette expands to RGB).
    Never upscales (scale capped at 1.0).

    Payloads no in-repo codec covers fall back to the header-only stub
    (dimensions from the PNG header when present, passthrough payload)
    when ``allow_stub`` (default), or raise ``NotImplementedError``
    otherwise."""
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("out_w", IntegerType()),
            StructField("out_h", IntegerType()),
            StructField("payload", BinaryType()),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    def row(mid, p):
        payload = bytes(p) if p is not None else b""
        dec = decode_image(payload)
        if dec is not None:
            w, h, ch, px = dec
            if sniff_media_type(payload) == "image/jpeg":
                from hquery_php_spark.operators.jpeg import (
                    jpeg_exif_orientation,
                )

                o = jpeg_exif_orientation(payload)
                if o and o != 1:
                    import numpy as np

                    px = np.ascontiguousarray(apply_exif_orientation(px, o))
                    h, w = px.shape[0], px.shape[1]
            scale = min(target / w, target / h, 1.0)
            ow = max(1, int(round(w * scale)))
            oh = max(1, int(round(h * scale)))
            small = px if (ow, oh) == (w, h) else _nearest_resample(px, ow, oh)
            return [(mid, ow, oh, encode_png(small[:, :, 0] if ch == 1 else small))]
        if not allow_stub:
            raise NotImplementedError(
                f"no codec for payload of media_id={mid} "
                f"(mime {sniff_media_type(payload)}); only PNG, baseline "
                "JPEG, and GIF decode without an image library"
            )
        dims = (
            _png_dims(payload)
            if sniff_media_type(payload) == "image/png"
            else None
        )
        if dims:
            w, h = dims
            scale = min(target / w, target / h, 1.0)
            ow, oh = max(1, round(w * scale)), max(1, round(h * scale))
        else:
            ow = oh = 0
        return [(mid, ow, oh, payload)]  # undecodable: passthrough

    return map_rows(narrow, schema, row)


def audio_pcm_stats_df(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL audio decode for WAV payloads (``operators/wav.py``: RIFF
    chunk walk; integer PCM at 8/16/24/32 bits any channel count, G.711
    µ-law/A-law telephony expansion, and IMA/DVI-ADPCM block decode)
    AND FLAC (``operators/flac.py``: rice residuals, fixed + LPC
    predictors, stereo decorrelation, CRC-verified) AND the audio track
    of AVI containers (``operators/avi.py`` demuxes the auds stream's
    '##wb' chunks through the same format-tag dispatch) → exact integer
    sample statistics, so the aggregate admits a closed-form SQL twin
    (every path is exact-integer).  Perceptual audio (MP3/OGG/AAC)
    still sniffs a mime but yields NULL stats — no codec libraries in
    this container, same honest-NULL doctrine as image decode.

    One row per payload: (media_id, mime, sample_rate, n_channels,
    n_samples, sum_val, sum_abs, sum_sq, peak) — sums over every sample
    of every channel as BIGINT (sum_sq of full-scale 32-bit audio can
    overflow int64 only past ~2×10^18, i.e. >2 billion full-scale
    samples per payload; payloads are row-sized, not corpus-sized).
    """
    import numpy as np
    from pyspark.sql.types import LongType

    from hquery_php_spark.operators.avi import decode_avi_audio
    from hquery_php_spark.operators.flac import decode_flac
    from hquery_php_spark.operators.wav import decode_wav

    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("mime", StringType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_channels", IntegerType()),
            StructField("n_samples", IntegerType()),
            StructField("sum_val", LongType()),
            StructField("sum_abs", LongType()),
            StructField("sum_sq", LongType()),
            StructField("peak", IntegerType()),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    def row(mid, p):
        payload = bytes(p) if p is not None else None
        mime = sniff_media_type(payload)
        dec = decode_wav(payload)
        if dec is None:
            dec = decode_flac(payload)
        if dec is None:
            dec = decode_avi_audio(payload)
        if dec is None:
            return [(mid, mime) + (None,) * 7]
        rate, samples = dec
        s64 = samples.astype(np.int64)
        return [(
            mid,
            mime,
            rate,
            samples.shape[1],
            samples.shape[0],
            int(s64.sum()),
            int(np.abs(s64).sum()),
            int((s64 * s64).sum()),
            int(np.abs(s64).max()) if s64.size else 0,
        )]

    return map_rows(narrow, schema, row)


def audio_container_meta_df(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL audio-container metadata for Ogg and MPEG-audio streams:
    Ogg page walk with CRC verification + BOS identification header
    (OpusHead / Vorbis), and the MP3 Layer III frame-header walk — the
    pre-decode filter for compressed audio, symmetric with
    ``video_meta_df``.  MP3 rows map onto the shared schema as
    n_pages=n_frames, n_streams=1, last_granule=total_samples (the
    granule analogue: PCM sample count).  Other payloads keep the
    sniffed mime with NULL fields."""
    from pyspark.sql.types import LongType

    from hquery_php_spark.operators.mediameta import mp3_meta, ogg_meta

    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("mime", StringType()),
            StructField("codec", StringType()),
            StructField("channels", IntegerType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_pages", IntegerType()),
            StructField("n_streams", IntegerType()),
            StructField("last_granule", LongType()),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    fields = schema.fieldNames()[2:]

    def row(mid, p):
        payload = bytes(p) if p is not None else None
        mime = sniff_media_type(payload)
        if mime == "audio/ogg":
            m = ogg_meta(payload)
        elif mime == "audio/mpeg":
            w = mp3_meta(payload)
            m = (
                {
                    "codec": "mp3",
                    "channels": w["channels"],
                    "sample_rate": w["sample_rate"],
                    "n_pages": w["n_frames"],
                    "n_streams": 1,
                    # VBR duration: a Xing/VBRI frames field is
                    # authoritative (truncated/head-only fetches
                    # walk fewer frames than the stream holds)
                    "last_granule": (
                        w["declared_total_samples"]
                        if w.get("declared_total_samples") is not None
                        else w["total_samples"]
                    ),
                }
                if w
                else None
            )
        else:
            m = None
        return [(mid, mime, *(m[k] if m else None for k in fields))]

    return map_rows(narrow, schema, row)


def video_meta_df(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL video-container metadata for the three walkable containers:
    MP4/ISO-BMFF (box walk: mvhd timescale/duration, tkhd 16.16 dims,
    per-track stsd codec fourcc), WebM/Matroska (EBML walk:
    TimestampScale, PixelWidth/Height, per-TrackEntry CodecID), and AVI
    (avih + stream-aware strl walk).  This is the operator a curation
    pipeline runs BEFORE any decode — filter by duration/resolution/
    track layout AND codec at container-walk cost (decode only what
    you have a decoder for).  Unknown containers keep the sniffed mime
    with NULL fields (honest, never an error)."""
    from hquery_php_spark.operators.avi import avi_codecs, avi_dims
    from hquery_php_spark.operators.mediameta import mp4_meta, webm_meta
    from hquery_php_spark.operators.mpegts import ts_meta

    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("mime", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("n_tracks", IntegerType()),
            StructField("duration_ms", IntegerType()),
            StructField("timescale", IntegerType()),
            StructField("codecs", StringType()),
            StructField("codec_tags", StringType()),
            StructField("coded_width", IntegerType()),
            StructField("coded_height", IntegerType()),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    def row(mid, p):
        payload = bytes(p) if p is not None else None
        mime = sniff_media_type(payload)
        w = h = tracks = dur = ts = codecs = None
        tags = cw = chh = None
        if mime in ("video/mp4", "video/quicktime", "audio/mp4"):
            m = mp4_meta(payload)
            if m:
                w, h = m["width"], m["height"]
                tracks, dur, ts = (
                    m["n_tracks"], m["duration_ms"], m["timescale"],
                )
                codecs = m["codecs"]
                # RFC 6381 strings + SPS/seq-header coded dims
                tags = m["codec_tags"]
                cw, chh = m["coded_width"], m["coded_height"]
        elif mime in ("video/webm", "video/x-matroska"):
            m = webm_meta(payload)
            if m:
                w, h, tracks = m["width"], m["height"], m["n_tracks"]
                ts = m["timestamp_scale"]
                codecs = m["codecs"]
                tags = m["codec_tags"]
                cw, chh = m["coded_width"], m["coded_height"]
        elif mime == "video/x-msvideo":
            d = avi_dims(payload)
            if d:
                w, h, nf, uspf = d
                dur = nf * uspf // 1000
                codecs = avi_codecs(payload)
                tracks = 1 + (codecs or "").count(",")
        elif mime == "video/mp2t":
            m = ts_meta(payload)
            if m:
                # TS carries no container-level dims; the SPS
                # coded dims are authoritative for both
                w, h = m["width"], m["height"]
                cw, chh = m["width"], m["height"]
                codecs = m["streams"]
                tags = m["codec_tags"]
                dur = m["duration_ms"]
                ts = 90000  # the TS system clock
                tracks = 1 + codecs.count(",") if codecs else None
        return [(mid, mime, w, h, tracks, dur, ts, codecs, tags, cw, chh)]

    return map_rows(narrow, schema, row)


def video_frame_sample_df(
    df: DataFrame,
    payload_col: str = "payload",
    every_n: int = 10,
    max_frames: int = 8,
    frame_bytes: int = 256,
) -> DataFrame:
    """Frame sampling for video-like columns.  Four container paths are
    REAL: animated GIF (``decode_gif_frames`` composites every frame per
    the GIF89a disposal model), animated WebP (ANIM/ANMF composition),
    AVI video (``operators/avi.py`` demuxes the movi list — both
    uncompressed DIB and MJPG chunks, the latter decoded by the in-repo
    JPEG codec), and WebM with a V_VP8 track (``mediameta.py`` walks
    Cluster/SimpleBlock incl. all three lacing modes and every KEY frame
    goes through the in-repo RFC 6386 VP8 decoder).  Every ``every_n``-th
    frame (up to ``max_frames``) is re-encoded as a standalone PNG, and
    ``frame_no`` is the SOURCE frame index — exactly what a video
    demuxer's key-frame sampler emits.  For containers without an
    in-repo decoder (MP4/MKV-VP9, H.264), "frames" fall back to
    deterministic fixed-stride byte windows with ordinal frame
    numbers — the schema, batching and one-row-per-frame fan-out are
    already the real contract."""
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("frame_no", IntegerType()),
            StructField("mime", StringType()),
            StructField("frame", BinaryType()),
        ]
    )
    narrow = df.select(F.col("media_id").cast("string"), F.col(payload_col).alias("p"))

    src_cap = (max_frames - 1) * every_n + 1

    def row(mid, p):
        from hquery_php_spark.operators.avi import decode_avi_frames
        from hquery_php_spark.operators.gif import decode_gif_frames
        from hquery_php_spark.operators.mediameta import decode_webm_frames
        from hquery_php_spark.operators.webp import decode_webp_frames

        payload = bytes(p) if p is not None else b""
        mime = sniff_media_type(payload)
        real = None
        if mime == "image/gif":
            real = [
                (fno, px)
                for fno, _delay, px in decode_gif_frames(
                    payload, max_frames=src_cap
                ) or []
            ]
        elif mime == "video/x-msvideo":
            # independent frames: push the stride into the demux
            # so dropped frames are never decoded
            real = decode_avi_frames(
                payload, max_frames=max_frames, every_n=every_n
            )
        elif mime in ("video/webm", "video/x-matroska"):
            real = decode_webm_frames(
                payload, max_frames=max_frames, every_n=every_n
            )
        elif (
            mime == "image/webp"
            and len(payload) > 20
            and payload[12:16] == b"VP8X"
            and payload[20] & 0x02  # VP8X animation flag
        ):
            real = [
                (fno, px)
                for fno, _dur, px in decode_webp_frames(
                    payload, max_frames=src_cap
                ) or []
            ]
        if real:
            return [
                (mid, fno, mime, encode_png(px))
                for fno, px in real
                if not fno % every_n
            ]
        stride = frame_bytes * every_n
        return [
            (mid, fno, mime, payload[fno * stride : fno * stride + frame_bytes])
            for fno in range(max_frames)
            if fno * stride < len(payload)
        ]

    return map_rows(narrow, schema, row)
