"""Container-metadata walkers for MP4 (ISO-BMFF) and WebM/Matroska
(EBML) — REAL parsing of the two dominant crawl video containers.

A 100 TB curation pipeline filters videos by duration/resolution/track
layout long before it pays for a decode; that needs the container walk,
not the codec.  This module provides it with no media library:

* ``mp4_meta``: box walk (nested sizes, 64-bit largesize, version 0/1
  mvhd + tkhd), returning brand, timescale, duration, track count and
  the first video track's 16.16 fixed-point dimensions.
* ``webm_meta``: EBML element walk (vint ids + vint sizes), DocType
  from the EBML header, TimestampScale from Segment>Info, track count
  and PixelWidth/PixelHeight from Segment>Tracks>TrackEntry>Video.
* ``ogg_meta``: Ogg page walk with CRC verification (poly 0x04C11DB7),
  page/stream/granule accounting, and the BOS identification packet
  (OpusHead / Vorbis id header) for codec, channels, sample rate.
* ``mp3_meta``: MPEG Layer III frame-header walk (ID3v2 skip, version/
  bitrate/rate tables, per-frame size arithmetic, Xing detection) for
  bitrate, sample rate, channels, frame count and duration.

Everything returned is integer/string (no float fields), so synthesized
corpora admit exact SQL twins.  Both writers emit minimal-but-valid
containers to exercise every parse path.

WebM video frame data IS in scope: ``webm_video_blocks`` walks
Segment > Cluster > SimpleBlock/BlockGroup for the first ``V_VP8``
track (all three lacing modes: Xiph, fixed, EBML) and
``decode_webm_frames`` feeds each key frame to the in-repo RFC 6386
VP8 decoder (operators/vp8.py, pinned bit-exact against libwebp) —
real compressed-video decode with no media library.  ``encode_webm_vp8``
is the matching muxer (fixture generation + the WARC-style write leg).
VP9/AVC frame data stays honestly out of scope (no such decoder).

Reference parity note: the reference engine (duzun/hQuery.php) sniffs
content types before parsing (hQuery.php:136-226); this extends the
same doctrine to container internals.
"""

from __future__ import annotations

import struct
from typing import Optional

__all__ = [
    "encode_mp4_stub",
    "mp4_meta",
    "encode_webm_stub",
    "encode_webm_vp8",
    "webm_meta",
    "webm_video_blocks",
    "decode_webm_frames",
    "encode_ogg_stub",
    "ogg_meta",
    "encode_mp3_stub",
    "mp3_meta",
]


# ------------------------------------------------------------------ #
# MP4 / ISO-BMFF


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


_VISUAL_FOURCCS = frozenset((b"avc1", b"avc3", b"hvc1", b"hev1", b"av01",
                             b"vp09", b"vp08", b"mp4v", b"encv"))
_AUDIO_FOURCCS = frozenset((b"mp4a", b"Opus", b"enca", b"ac-3", b"ec-3",
                            b"fLaC"))


def _visual_sample_entry(
    fourcc: bytes, width: int, height: int, cfg: bytes = b""
) -> bytes:
    """Full VisualSampleEntry (ISO 14496-12 §12.1.3): 78-byte fixed
    header then child boxes (the codec config)."""
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_ref_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x480000, 0x480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    return _box(fourcc, body + cfg)


def _audio_sample_entry(
    fourcc: bytes, channels: int, sample_rate: int, cfg: bytes = b""
) -> bytes:
    """Full AudioSampleEntry (ISO 14496-12 §12.2.3): 28-byte fixed
    header then child boxes."""
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 8  # version/revision/vendor
        + struct.pack(">HHHH", channels, 16, 0, 0)
        + struct.pack(">I", sample_rate << 16)  # 16.16
    )
    return _box(fourcc, body + cfg)


def _codec_config_box(fourcc: bytes, width: int, height: int, params: dict):
    """(config child box bytes) for a sample-entry fourcc, built from
    the deterministic ``params`` — the writer half of the codec-config
    surface (parse half: operators/codecconfig.py)."""
    from . import codecconfig as cc

    if fourcc in (b"avc1", b"avc3"):
        sps = cc.build_avc_sps(
            width, height,
            profile_idc=params.get("profile", 66),
            level_idc=params.get("level", 30),
        )
        return _box(b"avcC", cc.build_avcc(sps))
    if fourcc in (b"hev1", b"hvc1"):
        p = params.get("profile", 1)
        lvl = params.get("level", 93)
        return _box(
            b"hvcC",
            cc.build_hvcc(
                profile_idc=p,
                level_idc=lvl,
                sps=cc.build_hevc_sps(
                    width, height, profile_idc=p, level_idc=lvl
                ) if width and height else None,
            ),
        )
    if fourcc == b"av01":
        high_bd = bool(params.get("high_bitdepth"))
        lvl = params.get("level", 8)
        obu = cc.build_av1_seq_header_obu(
            width, height, seq_level_idx=lvl, high_bitdepth=high_bd
        )
        return _box(
            b"av1C",
            cc.build_av1c(
                seq_level_idx=lvl, high_bitdepth=high_bd, config_obus=obu
            ),
        )
    if fourcc == b"vp09":
        return _box(
            b"vpcC",
            cc.build_vpcc(
                profile=params.get("profile", 0),
                level=params.get("level", 10),
                bit_depth=params.get("bit_depth", 8),
            ),
        )
    if fourcc == b"mp4a":
        return _box(
            b"esds",
            cc.build_esds(
                sample_rate=params.get("sample_rate", 44100),
                channels=params.get("channels", 2),
            ),
        )
    if fourcc == b"Opus":
        return _box(
            b"dOps", cc.build_dops(channels=params.get("channels", 2))
        )
    return b""


def encode_mp4_stub(
    duration_ms: int,
    width: int,
    height: int,
    n_tracks: int = 1,
    brand: bytes = b"isom",
    version1: bool = False,
    video_codec: Optional[str] = None,
    audio_codec: Optional[str] = None,
    video_params: Optional[dict] = None,
    audio_params: Optional[dict] = None,
) -> bytes:
    """Minimal valid ftyp+moov (+empty mdat): mvhd at timescale 1000,
    one tkhd per track (the first carries the video dimensions), and a
    per-track mdia>minf>stbl>stsd sample description naming the codec
    (track 0 ``avc1``, later tracks ``mp4a`` — the dominant real-corpus
    layout).  ``version1`` emits 64-bit mvhd/tkhd variants so the
    parser's wide path is exercised.

    With ``video_codec``/``audio_codec`` set (avc1|hev1|av01|vp09 /
    mp4a|Opus), sample entries are FULL visual/audio entries carrying a
    real codec-configuration child box (avcC with a genuine SPS+PPS,
    hvcC, av1C with a sequence-header OBU, vpcC, esds, dOps) built from
    ``video_params``/``audio_params`` — the RFC 6381 filter surface."""
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0x200) + brand + b"mp42")
    if version1:
        mvhd = _box(
            b"mvhd",
            b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, 1000, duration_ms)
            + b"\x00" * 80,
        )
    else:
        mvhd = _box(
            b"mvhd",
            b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, 1000, duration_ms)
            + b"\x00" * 80,
        )
    traks = b""
    for t in range(n_tracks):
        w = width if t == 0 else 0
        h = height if t == 0 else 0
        if version1:
            tk = (
                b"\x01\x00\x00\x07"
                + struct.pack(">QQI", 0, 0, t + 1) + b"\x00" * 4
                + struct.pack(">Q", duration_ms) + b"\x00" * 52
                + struct.pack(">II", w << 16, h << 16)
            )
        else:
            tk = (
                b"\x00\x00\x00\x07"
                + struct.pack(">III", 0, 0, t + 1) + b"\x00" * 4
                + struct.pack(">I", duration_ms) + b"\x00" * 52
                + struct.pack(">II", w << 16, h << 16)
            )
        if t == 0 and video_codec:
            fc = video_codec.encode("ascii")
            entry = _visual_sample_entry(
                fc, width, height,
                _codec_config_box(fc, width, height, video_params or {}),
            )
        elif t > 0 and audio_codec:
            fc = audio_codec.encode("ascii")
            ap = audio_params or {}
            entry = _audio_sample_entry(
                fc, ap.get("channels", 2), ap.get("sample_rate", 44100),
                _codec_config_box(fc, 0, 0, ap),
            )
        else:
            fourcc = b"avc1" if t == 0 else b"mp4a"
            # bare sample entry: size + fourcc + 8 reserved bytes is
            # enough for the codec-inventory walk (real entries more)
            entry = struct.pack(">I", 16) + fourcc + b"\x00" * 8
        stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
        mdia = _box(b"mdia", _box(b"minf", _box(b"stbl", stsd)))
        traks += _box(b"trak", _box(b"tkhd", tk) + mdia)
    moov = _box(b"moov", mvhd + traks)
    return ftyp + moov + _box(b"mdat", b"")


def _walk_boxes(payload: bytes, start: int, end: int):
    pos = start
    n = min(end, len(payload))
    while pos + 8 <= n:
        (size,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if body + 8 > n:
                return
            (size,) = struct.unpack_from(">Q", payload, body)
            body += 8
        elif size == 0:  # to end of file
            size = n - pos
        if size < 8 or pos + size > n:
            return
        yield typ, body, pos + size
        pos += size


def mp4_meta(payload: Optional[bytes]) -> Optional[dict]:
    """{'brand', 'timescale', 'duration', 'duration_ms', 'n_tracks',
    'width', 'height', 'codecs'} from ftyp/moov, or None for non-BMFF
    bytes.  Width/height come from the first track whose tkhd carries
    nonzero dimensions (the video track convention); 'codecs' is the
    comma-joined stsd sample-entry fourcc per track in track order
    (avc1/hvc1/vp09/mp4a/Opus/...) — the codec inventory a curation
    pipeline filters on BEFORE paying for any decode."""
    try:
        return _mp4_meta_impl(payload)
    except (struct.error, IndexError, ValueError):
        return None


def _mp4_meta_impl(payload):
    if payload is None or len(payload) < 16 or payload[4:8] != b"ftyp":
        return None
    out = {"brand": payload[8:12].decode("latin-1"), "timescale": None,
           "duration": None, "duration_ms": None, "n_tracks": 0,
           "width": None, "height": None, "codecs": None,
           "codec_tags": None, "coded_width": None, "coded_height": None}
    codecs = []
    tags = []
    for typ, body, end in _walk_boxes(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t2, b2, e2 in _walk_boxes(payload, body, end):
            if t2 == b"mvhd":
                ver = payload[b2]
                if ver == 1:
                    ts, dur = struct.unpack_from(">IQ", payload, b2 + 4 + 16)
                else:
                    ts, dur = struct.unpack_from(">II", payload, b2 + 4 + 8)
                out["timescale"], out["duration"] = ts, dur
                if ts:
                    out["duration_ms"] = dur * 1000 // ts
            elif t2 == b"trak":
                out["n_tracks"] += 1
                for t3, b3, e3 in _walk_boxes(payload, b2, e2):
                    if t3 == b"tkhd":
                        ver = payload[b3]
                        # width/height are the LAST 8 bytes of tkhd payload
                        w, h = struct.unpack_from(">II", payload, e3 - 8)
                        if (w or h) and out["width"] is None:
                            out["width"], out["height"] = w >> 16, h >> 16
                    elif t3 == b"mdia":
                        info = _stsd_entry(payload, b3, e3)
                        if info:
                            fc, tag, cw, ch = info
                            codecs.append(fc)
                            tags.append(tag)
                            if cw and out["coded_width"] is None:
                                out["coded_width"] = cw
                                out["coded_height"] = ch
        break
    if out["timescale"] is None:
        return None
    if codecs:
        out["codecs"] = ",".join(codecs)
        out["codec_tags"] = ",".join(tags)
    return out


def _parse_entry_config(payload, fourcc, cfg_start, entry_end):
    """Walk the child boxes of a sample entry; return (rfc6381_tag,
    coded_w, coded_h) from the codec-configuration record, or
    (fourcc, None, None) when no known config box is present."""
    from . import codecconfig as cc

    fc = fourcc.decode("latin-1").strip()
    for t, b, e in _walk_boxes(payload, cfg_start, entry_end):
        body = payload[b:e]
        if t == b"avcC":
            m = cc.parse_avcc(body)
            if m:
                return cc.codec_string(fc, m), m.get("width"), m.get("height")
        elif t == b"hvcC":
            m = cc.parse_hvcc(body)
            if m:
                return cc.codec_string(fc, m), m.get("width"), m.get("height")
        elif t == b"av1C":
            m = cc.parse_av1c(body)
            if m:
                return cc.codec_string(fc, m), m.get("width"), m.get("height")
        elif t == b"vpcC":
            m = cc.parse_vpcc(body)
            if m:
                return cc.codec_string(fc, m), None, None
        elif t == b"esds":
            m = cc.parse_esds(body)
            if m:
                return cc.codec_string(fc, m), None, None
        elif t == b"dOps":
            if cc.parse_dops(body):
                return fc, None, None  # RFC 6381 string for Opus = "Opus"
    return fc, None, None


def _stsd_entry(payload, b3, e3):
    """First sample entry of a trak's mdia>minf>stbl>stsd ->
    (fourcc, rfc6381_tag, coded_w, coded_h), or None.  The codec tag
    and coded dims come from the entry's configuration child box
    (avcC SPS / av1C sequence header are authoritative for coded
    dimensions; tkhd dims are presentation hints)."""
    for t4, b4, e4 in _walk_boxes(payload, b3, e3):
        if t4 != b"minf":
            continue
        for t5, b5, e5 in _walk_boxes(payload, b4, e4):
            if t5 != b"stbl":
                continue
            for t6, b6, e6 in _walk_boxes(payload, b5, e5):
                if t6 != b"stsd" or e6 - b6 < 16:
                    continue
                (n_entries,) = struct.unpack_from(">I", payload, b6 + 4)
                if n_entries < 1:
                    continue
                entry_start = b6 + 8
                (entry_size,) = struct.unpack_from(
                    ">I", payload, entry_start
                )
                fourcc = payload[entry_start + 4 : entry_start + 8]
                fc = fourcc.decode("latin-1").strip()
                if not fc:
                    return None
                entry_end = min(entry_start + max(entry_size, 8), e6)
                # fixed sample-entry header before child boxes
                if fourcc in _VISUAL_FOURCCS:
                    cfg_start = entry_start + 8 + 78
                elif fourcc in _AUDIO_FOURCCS:
                    cfg_start = entry_start + 8 + 28
                else:
                    return fc, fc, None, None
                if cfg_start >= entry_end:
                    return fc, fc, None, None
                tag, cw, ch = _parse_entry_config(
                    payload, fourcc, cfg_start, entry_end
                )
                return fc, tag, cw, ch
    return None


# ------------------------------------------------------------------ #
# WebM / Matroska (EBML)

_EBML = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_CODEC_ID = 0x86
_CODEC_PRIVATE = 0x63A2
_VIDEO = 0xE0
_PIXEL_W = 0xB0
_PIXEL_H = 0xBA


def _vint(value: int, length: int) -> bytes:
    # EBML size vint: marker bit in the first byte
    v = value | (1 << (7 * length))
    return v.to_bytes(length, "big")


def _eid(eid: int) -> bytes:
    # element ids are stored with their marker included
    ln = (eid.bit_length() + 7) // 8
    return eid.to_bytes(ln, "big")


def _el(eid: int, body: bytes) -> bytes:
    return _eid(eid) + _vint(len(body), 8) + body


def _uint_el(eid: int, v: int) -> bytes:
    ln = max(1, (v.bit_length() + 7) // 8)
    return _el(eid, v.to_bytes(ln, "big"))


def _webm_codec_private(codec_id: bytes, width: int, height: int,
                        params: Optional[dict]):
    """CodecPrivate bytes for a TrackEntry, or b'' when the codec's
    private data is not modeled (V_VP8 carries none in real files)."""
    from . import codecconfig as cc

    p = params or {}
    if codec_id == b"V_AV1":
        # Matroska V_AV1 CodecPrivate IS the av1C record; include the
        # sequence-header OBU so coded dims are recoverable
        lvl = p.get("level", 8)
        hbd = bool(p.get("high_bitdepth"))
        obu = cc.build_av1_seq_header_obu(
            width, height, seq_level_idx=lvl, high_bitdepth=hbd
        )
        return cc.build_av1c(seq_level_idx=lvl, high_bitdepth=hbd,
                             config_obus=obu)
    if codec_id == b"V_VP9":
        return cc.build_vp9_codec_private(
            profile=p.get("profile", 0), level=p.get("level", 10),
            bit_depth=p.get("bit_depth", 8),
        )
    if codec_id == b"A_OPUS":
        return cc.build_opus_head(channels=p.get("channels", 2))
    if codec_id == b"V_MPEG4/ISO/AVC":
        return cc.build_avcc(
            cc.build_avc_sps(width, height,
                             profile_idc=p.get("profile", 66),
                             level_idc=p.get("level", 30))
        )
    if codec_id == b"V_MPEGH/ISO/HEVC":
        p_idc = p.get("profile", 1)
        lvl = p.get("level", 93)
        return cc.build_hvcc(
            profile_idc=p_idc, level_idc=lvl,
            sps=cc.build_hevc_sps(width, height, profile_idc=p_idc,
                                  level_idc=lvl),
        )
    return b""


def encode_webm_stub(
    timestamp_scale: int, width: int, height: int, n_tracks: int = 1,
    doctype: bytes = b"webm",
    video_codec: bytes = b"V_VP8",
    video_params: Optional[dict] = None,
) -> bytes:
    """Minimal valid EBML stream: header (DocType) + Segment with Info
    (TimestampScale) and Tracks (one TrackEntry per track carrying
    TrackNumber + CodecID — ``video_codec`` for the first, A_OPUS for
    the rest, the dominant WebM layout — plus Video > PixelWidth/
    PixelHeight on the first track).  V_VP9 / V_AV1 / A_OPUS tracks
    carry a real CodecPrivate (VP9 feature list / av1C with sequence
    header / OpusHead) built from ``video_params``."""
    header = _el(_EBML, _el(_DOCTYPE, doctype))
    info = _el(_INFO, _uint_el(_TIMESTAMP_SCALE, timestamp_scale))
    entries = b""
    for t in range(n_tracks):
        video = (
            _el(_VIDEO, _uint_el(_PIXEL_W, width) + _uint_el(_PIXEL_H, height))
            if t == 0
            else b""
        )
        cid = video_codec if t == 0 else b"A_OPUS"
        codec = _el(_CODEC_ID, cid)
        private = _webm_codec_private(
            cid, width, height, video_params if t == 0 else None
        )
        if private:
            codec += _el(_CODEC_PRIVATE, private)
        entries += _el(
            _TRACK_ENTRY, _uint_el(0xD7, t + 1) + codec + video
        )  # TrackNumber
    segment = _el(_SEGMENT, info + _el(_TRACKS, entries))
    return header + segment


def _read_vint(payload: bytes, pos: int, keep_marker: bool):
    if pos >= len(payload):
        raise ValueError("ebml: eof")
    first = payload[pos]
    if first == 0:
        raise ValueError("ebml: bad vint")
    ln = 8 - first.bit_length() + 1
    if pos + ln > len(payload):
        raise ValueError("ebml: eof")
    v = int.from_bytes(payload[pos : pos + ln], "big")
    if not keep_marker:
        v &= (1 << (7 * ln)) - 1
    return v, pos + ln


def _walk_ebml(payload: bytes, start: int, end: int):
    pos = start
    while pos < min(end, len(payload)):
        eid, pos = _read_vint(payload, pos, keep_marker=True)
        size, pos = _read_vint(payload, pos, keep_marker=False)
        body_end = min(pos + size, end, len(payload))
        yield eid, pos, body_end
        pos = body_end


def webm_meta(payload: Optional[bytes]) -> Optional[dict]:
    """{'doctype', 'timestamp_scale', 'n_tracks', 'width', 'height',
    'codecs'} from the EBML header + Segment Info/Tracks, or None.
    'codecs' is the comma-joined CodecID per TrackEntry in track order
    (V_VP8/V_VP9/A_OPUS/A_VORBIS/...) — the pre-decode codec
    inventory."""
    try:
        return _webm_meta_impl(payload)
    except (ValueError, IndexError):
        return None


def _webm_codec_tag(codec_id, private, out):
    """RFC 6381-style tag for a Matroska track from its CodecID +
    CodecPrivate (WebM <source codecs=...> vocabulary: vp8, vp09.*,
    av01.*, opus, vorbis); fills out['coded_*'] from an av1C sequence
    header.  Falls back to the raw CodecID."""
    from . import codecconfig as cc

    if codec_id == "V_VP8":
        return "vp8"
    if codec_id == "V_VP9":
        m = cc.parse_vp9_codec_private(private) if private else None
        return cc.codec_string("vp09", m) if m else "vp9"
    if codec_id == "V_AV1":
        m = cc.parse_av1c(private) if private else None
        if m:
            if m.get("width") and out["coded_width"] is None:
                out["coded_width"] = m["width"]
                out["coded_height"] = m["height"]
            return cc.codec_string("av01", m)
        return "av01"
    if codec_id == "A_OPUS":
        return "opus"
    if codec_id == "A_VORBIS":
        return "vorbis"
    if codec_id == "V_MPEG4/ISO/AVC":
        # Matroska AVC CodecPrivate IS the avcC record
        m = cc.parse_avcc(private) if private else None
        if m:
            if m.get("width") and out["coded_width"] is None:
                out["coded_width"] = m["width"]
                out["coded_height"] = m["height"]
            return cc.codec_string("avc1", m)
        return "avc1"
    if codec_id == "V_MPEGH/ISO/HEVC":
        # ... and HEVC CodecPrivate IS the hvcC record
        m = cc.parse_hvcc(private) if private else None
        if m:
            if m.get("width") and out["coded_width"] is None:
                out["coded_width"] = m["width"]
                out["coded_height"] = m["height"]
            return cc.codec_string("hev1", m)
        return "hev1"
    return codec_id


def _webm_meta_impl(payload):
    if payload is None or len(payload) < 8 or payload[:4] != b"\x1aE\xdf\xa3":
        return None
    out = {"doctype": None, "timestamp_scale": None, "n_tracks": 0,
           "width": None, "height": None, "codecs": None,
           "codec_tags": None, "coded_width": None, "coded_height": None}
    codecs = []
    tags = []
    for eid, body, end in _walk_ebml(payload, 0, len(payload)):
        if eid == _EBML:
            for e2, b2, e2e in _walk_ebml(payload, body, end):
                if e2 == _DOCTYPE:
                    out["doctype"] = payload[b2:e2e].rstrip(b"\x00").decode(
                        "latin-1"
                    )
        elif eid == _SEGMENT:
            for e2, b2, e2e in _walk_ebml(payload, body, end):
                if e2 == _INFO:
                    for e3, b3, e3e in _walk_ebml(payload, b2, e2e):
                        if e3 == _TIMESTAMP_SCALE:
                            out["timestamp_scale"] = int.from_bytes(
                                payload[b3:e3e], "big"
                            )
                elif e2 == _TRACKS:
                    for e3, b3, e3e in _walk_ebml(payload, b2, e2e):
                        if e3 != _TRACK_ENTRY:
                            continue
                        out["n_tracks"] += 1
                        cid = private = None
                        for e4, b4, e4e in _walk_ebml(payload, b3, e3e):
                            if e4 == _CODEC_ID:
                                cid = payload[b4:e4e].rstrip(b"\x00").decode(
                                    "latin-1"
                                )
                            elif e4 == _CODEC_PRIVATE:
                                private = payload[b4:e4e]
                            elif e4 == _VIDEO:
                                for e5, b5, e5e in _walk_ebml(payload, b4, e4e):
                                    v = int.from_bytes(payload[b5:e5e], "big")
                                    if e5 == _PIXEL_W and out["width"] is None:
                                        out["width"] = v
                                    elif e5 == _PIXEL_H and out["height"] is None:
                                        out["height"] = v
                        if cid is not None:
                            codecs.append(cid)
                            tags.append(_webm_codec_tag(cid, private, out))
    if out["doctype"] is None:
        return None
    if codecs:
        out["codecs"] = ",".join(codecs)
        out["codec_tags"] = ",".join(tags)
    return out


# EBML ids for the frame-data walk (Matroska/WebM public spec)
_CLUSTER = 0x1F43B675
_CLUSTER_TS = 0xE7
_SIMPLE_BLOCK = 0xA3
_BLOCK_GROUP = 0xA0
_BLOCK = 0xA1
_TRACK_NUMBER = 0xD7
_TRACK_TYPE = 0x83


def encode_webm_vp8(
    width: int,
    height: int,
    vp8_frames,
    frame_duration_ms: int = 40,
    timestamp_scale: int = 1_000_000,
) -> bytes:
    """REAL WebM muxer: EBML header + Segment{Info, Tracks[V_VP8 video
    track 1], Cluster{Timestamp, one SimpleBlock per frame}}.  The
    SimpleBlock keyframe flag is derived from the VP8 frame tag
    (byte 0 bit 0 == 0 → key frame, RFC 6386 §9.1), so muxed streams
    carry honest flags for a downstream keyframe sampler."""
    header = _el(_EBML, _el(_DOCTYPE, b"webm"))
    info = _el(_INFO, _uint_el(_TIMESTAMP_SCALE, timestamp_scale))
    track = _el(
        _TRACK_ENTRY,
        _uint_el(_TRACK_NUMBER, 1)
        + _uint_el(_TRACK_TYPE, 1)
        + _el(_CODEC_ID, b"V_VP8")
        + _el(_VIDEO, _uint_el(_PIXEL_W, width) + _uint_el(_PIXEL_H, height)),
    )
    blocks = b""
    for i, fr in enumerate(vp8_frames):
        fr = bytes(fr)
        kf = 0x80 if fr and not (fr[0] & 0x01) else 0x00
        body = (
            _vint(1, 1)  # track number 1
            + struct.pack(">h", i * frame_duration_ms)
            + bytes([kf])
            + fr
        )
        blocks += _el(_SIMPLE_BLOCK, body)
    cluster = _el(_CLUSTER, _uint_el(_CLUSTER_TS, 0) + blocks)
    segment = _el(_SEGMENT, info + _el(_TRACKS, track) + cluster)
    return header + segment


def _vp8_track_number(payload: bytes) -> Optional[int]:
    """TrackNumber of the first TrackEntry whose CodecID is V_VP8."""
    for eid, body, end in _walk_ebml(payload, 0, len(payload)):
        if eid != _SEGMENT:
            continue
        for e2, b2, e2e in _walk_ebml(payload, body, end):
            if e2 != _TRACKS:
                continue
            for e3, b3, e3e in _walk_ebml(payload, b2, e2e):
                if e3 != _TRACK_ENTRY:
                    continue
                num, codec = None, None
                for e4, b4, e4e in _walk_ebml(payload, b3, e3e):
                    if e4 == _TRACK_NUMBER:
                        num = int.from_bytes(payload[b4:e4e], "big")
                    elif e4 == _CODEC_ID:
                        codec = payload[b4:e4e].rstrip(b"\x00")
                if codec == b"V_VP8" and num is not None:
                    return num
    return None


def _unlace(payload: bytes, pos: int, end: int, flags: int):
    """Split a (Simple)Block body after the flags byte into per-frame
    byte ranges per the Matroska lacing modes (§ Block lacing)."""
    lacing = (flags >> 1) & 0x03
    if lacing == 0:  # no lacing: one frame
        return [payload[pos:end]]
    if pos >= end:
        raise ValueError("ebml: laced block eof")
    n = payload[pos] + 1  # frame count − 1 is stored
    pos += 1
    sizes = []
    if lacing == 1:  # Xiph: 255-run sums for the first n−1 frames
        for _ in range(n - 1):
            size = 0
            while True:
                if pos >= end:
                    raise ValueError("ebml: xiph lace eof")
                b = payload[pos]
                pos += 1
                size += b
                if b != 255:
                    break
            sizes.append(size)
    elif lacing == 2:  # fixed: equal split of the remaining bytes
        total = end - pos
        if n == 0 or total % n:
            raise ValueError("ebml: fixed lace misfit")
        sizes = [total // n] * (n - 1)
    else:  # EBML: first size as vint, then signed vint deltas
        first, pos = _read_vint(payload, pos, keep_marker=False)
        sizes.append(first)
        prev = first
        for _ in range(n - 2):
            raw_start = pos
            delta, pos = _read_vint(payload, pos, keep_marker=False)
            ln = pos - raw_start
            prev += delta - ((1 << (7 * ln - 1)) - 1)  # signed bias
            if prev < 0:
                raise ValueError("ebml: negative lace size")
            sizes.append(prev)
    frames = []
    for s in sizes:
        if pos + s > end:
            raise ValueError("ebml: lace overruns block")
        frames.append(payload[pos : pos + s])
        pos += s
    frames.append(payload[pos:end])  # last frame: remainder
    return frames


def webm_video_blocks(payload: Optional[bytes], max_blocks: Optional[int] = None):
    """Demux the V_VP8 video track: walk Segment > Cluster >
    SimpleBlock / BlockGroup>Block in stream order and return
    ``[(frame_no, keyframe, frame_bytes), ...]``.  ``keyframe`` comes
    from the VP8 frame tag itself (byte 0 bit 0), the only source that
    is authoritative across both block kinds.  All three lacing modes
    are handled; laced sub-frames get consecutive frame numbers.
    Returns None for non-EBML payloads, [] when no V_VP8 track."""
    try:
        if payload is None or len(payload) < 8 or payload[:4] != b"\x1aE\xdf\xa3":
            return None
        track = _vp8_track_number(payload)
        if track is None:
            return []
        out = []
        frame_no = 0
        for eid, body, end in _walk_ebml(payload, 0, len(payload)):
            if eid != _SEGMENT:
                continue
            for e2, b2, e2e in _walk_ebml(payload, body, end):
                if e2 != _CLUSTER:
                    continue
                for e3, b3, e3e in _walk_ebml(payload, b2, e2e):
                    if e3 == _SIMPLE_BLOCK:
                        blocks = [(b3, e3e)]
                    elif e3 == _BLOCK_GROUP:
                        blocks = [
                            (b4, e4e)
                            for e4, b4, e4e in _walk_ebml(payload, b3, e3e)
                            if e4 == _BLOCK
                        ]
                    else:
                        continue
                    for bs, be in blocks:
                        try:
                            tnum, pos = _read_vint(payload, bs, keep_marker=False)
                            if tnum != track or pos + 3 > be:
                                continue
                            flags = payload[pos + 2]
                            frames = _unlace(payload, pos + 3, be, flags)
                        except (ValueError, IndexError):
                            continue
                        for fr in frames:
                            kf = bool(fr) and not (fr[0] & 0x01)
                            out.append((frame_no, kf, fr))
                            frame_no += 1
                            if max_blocks is not None and frame_no >= max_blocks:
                                return out
        return out
    except (ValueError, IndexError):
        return None


def decode_webm_frames(
    payload: Optional[bytes],
    max_frames: Optional[int] = None,
    every_n: int = 1,
):
    """REAL compressed-video decode: WebM demux + the in-repo RFC 6386
    VP8 key-frame decoder → ``[(frame_no, HxWx3 RGB uint8), ...]``.
    Inter frames consume a frame number (source-frame semantics for a
    sampler) but yield no pixels — a keyframe sampler is exactly what a
    100 TB curation pipeline runs, and key frames are the only frames a
    from-scratch decoder can stand alone on.  Corrupt individual frames
    are skipped, never fatal.

    ``every_n`` pushes the sampling stride INTO the walk: key frames at
    non-sampled source positions are never handed to the bit decoder
    (decode-after-sample — the demux costs bytes, the decode costs
    CPU).  ``max_frames`` caps DECODED frames."""
    blocks = webm_video_blocks(payload)
    if not blocks:
        return blocks  # None (not WebM) or [] (no VP8 track)
    from .vp8 import decode_vp8_rgba  # local import keeps module load light

    out = []
    for frame_no, kf, fr in blocks:
        if not kf or frame_no % every_n:
            continue
        try:
            _w, _h, _ch, rgba = decode_vp8_rgba(fr)
        except (ValueError, IndexError, KeyError):
            continue
        out.append((frame_no, rgba[:, :, :3]))
        if max_frames is not None and len(out) >= max_frames:
            break
    return out


# ------------------------------------------------------------------ #
# Ogg (Opus / Vorbis identification headers)

_OGG_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    # Ogg page CRC: poly 0x04C11DB7, init 0, no reflection, no final xor
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        tbl = []
        for b in range(256):
            c = b << 24
            for _ in range(8):
                c = ((c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if c & 0x80000000 \
                    else (c << 1) & 0xFFFFFFFF
            tbl.append(c)
        _OGG_CRC_TABLE = tbl
    c = 0
    for b in data:
        c = ((c << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[((c >> 24) ^ b) & 0xFF]
    return c


def _ogg_page(serial: int, seq: int, granule: int, header_type: int,
              packet: bytes) -> bytes:
    segs = []
    rest = packet
    while len(rest) >= 255:
        segs.append(255)
        rest = rest[255:]
    segs.append(len(rest))
    hdr = (
        b"OggS\x00" + bytes([header_type])
        + struct.pack("<q", granule) + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs)
    )
    page = hdr + packet
    crc = _ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def encode_ogg_stub(codec: str, channels: int, sample_rate: int,
                    n_pages: int = 2, serial: int = 1,
                    last_granule: int = 48000) -> bytes:
    """Minimal valid Ogg stream: a BOS page carrying the codec's
    identification header (OpusHead / Vorbis id), then ``n_pages - 1``
    empty continuation pages, the last carrying ``last_granule``."""
    if codec == "opus":
        ident = (
            b"OpusHead" + bytes([1, channels]) + struct.pack("<H", 312)
            + struct.pack("<I", sample_rate) + struct.pack("<h", 0) + b"\x00"
        )
    elif codec == "vorbis":
        ident = (
            b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
            + struct.pack("<I", sample_rate) + b"\x00" * 16 + b"\x01"
        )
    else:
        raise ValueError(codec)
    out = _ogg_page(serial, 0, 0, 0x02, ident)  # BOS
    for p in range(1, max(n_pages, 1)):
        granule = last_granule if p == n_pages - 1 else 0
        ht = 0x04 if p == n_pages - 1 else 0  # EOS on the last page
        out += _ogg_page(serial, p, granule, ht, b"")
    return out


def ogg_meta(payload: Optional[bytes], verify_crc: bool = True) -> Optional[dict]:
    """{'codec', 'channels', 'sample_rate', 'n_pages', 'n_streams',
    'last_granule'} from the Ogg page walk + the BOS identification
    packet (OpusHead / Vorbis id header), or None.  Page CRCs are
    verified (poly 0x04C11DB7) unless ``verify_crc=False``."""
    try:
        return _ogg_meta_impl(payload, verify_crc)
    except (struct.error, IndexError, ValueError):
        return None


def _ogg_meta_impl(payload, verify_crc):
    if payload is None or len(payload) < 28 or payload[:4] != b"OggS":
        return None
    pos = 0
    out = {"codec": None, "channels": None, "sample_rate": None,
           "n_pages": 0, "n_streams": 0, "last_granule": 0}
    serials = set()
    n = len(payload)
    while pos + 27 <= n and payload[pos : pos + 4] == b"OggS":
        header_type = payload[pos + 5]
        (granule,) = struct.unpack_from("<q", payload, pos + 6)
        (serial,) = struct.unpack_from("<I", payload, pos + 14)
        (crc,) = struct.unpack_from("<I", payload, pos + 22)
        n_segs = payload[pos + 26]
        seg_table = payload[pos + 27 : pos + 27 + n_segs]
        if len(seg_table) < n_segs:
            break
        body = pos + 27 + n_segs
        body_len = sum(seg_table)
        if body + body_len > n:
            break
        if verify_crc:
            page = bytearray(payload[pos : body + body_len])
            page[22:26] = b"\x00\x00\x00\x00"
            if _ogg_crc(bytes(page)) != crc:
                return None
        out["n_pages"] += 1
        serials.add(serial)
        if granule > out["last_granule"]:
            out["last_granule"] = granule
        if header_type & 0x02:  # BOS: identification packet
            pkt = payload[body : body + body_len]
            if pkt.startswith(b"OpusHead") and len(pkt) >= 16:
                out["codec"] = "opus"
                out["channels"] = pkt[9]
                (out["sample_rate"],) = struct.unpack_from("<I", pkt, 12)
            elif pkt.startswith(b"\x01vorbis") and len(pkt) >= 16:
                out["codec"] = "vorbis"
                out["channels"] = pkt[11]
                (out["sample_rate"],) = struct.unpack_from("<I", pkt, 12)
        pos = body + body_len
    out["n_streams"] = len(serials)
    if out["n_pages"] == 0:
        return None
    return out


# ------------------------------------------------------------------ #
# MP3 / MPEG audio (Layer III frame-header walk)
#
# The dominant compressed-audio format in web crawls.  Like the MP4/
# WebM/Ogg walkers above, this is the filter-before-decode leg: frame
# headers carry bitrate/rate/mode and the frame count gives duration,
# no Huffman/MDCT decode needed.  Header layout (ISO/IEC 11172-3):
#   AAAAAAAA AAABBCCD EEEEFFGH IIJJKLMM
#   A sync(11x1)  B version(00=2.5,10=2,11=1)  C layer(01=III)
#   D no-CRC      E bitrate idx  F samplerate idx  G padding
#   I channel mode(00 stereo,01 joint,10 dual,11 mono)

_MP3_BITRATES_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112,
                      128, 160, 192, 224, 256, 320)
_MP3_BITRATES_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64,
                      80, 96, 112, 128, 144, 160)
# version bits -> sample-rate table (index by F bits)
_MP3_RATES = {3: (44100, 48000, 32000),   # MPEG-1
              2: (22050, 24000, 16000),   # MPEG-2
              0: (11025, 12000, 8000)}    # MPEG-2.5


def _mp3_frame_len(version_bits: int, bitrate_kbps: int,
                   sample_rate: int, padding: int) -> int:
    # Layer III: 144000*kbps/rate for MPEG-1, 72000*kbps/rate otherwise
    base = 144000 if version_bits == 3 else 72000
    return base * bitrate_kbps // sample_rate + padding


def _mp3_side_info_len(version_bits: int, mono: bool) -> int:
    # side-info size after the 4-byte header (Xing tag offset)
    if version_bits == 3:
        return 17 if mono else 32
    return 9 if mono else 17


def encode_mp3_stub(
    n_frames: int,
    bitrate_kbps: int,
    sample_rate: int,
    channels: int = 2,
    id3v2_tag_size: Optional[int] = None,
    xing: bool = False,
    id3_frames: Optional[dict] = None,
    id3_version: int = 3,
    vbri: bool = False,
    vbr: bool = False,
    declared_frames: Optional[int] = None,
    truncate_frames: Optional[int] = None,
) -> bytes:
    """Minimal valid MPEG Layer III stream: ``n_frames`` correctly sized
    frames (padding bit alternates per frame so the walker's size
    arithmetic is exercised), an optional ID3v2.3 prefix tag and an
    optional Xing tag in the first frame.  ``sample_rate`` selects the
    MPEG version; ``bitrate_kbps`` must exist in that version's Layer
    III table.  ``id3_frames`` ({'TIT2': 'title', ...}) emits real
    ID3v2 text frames inside the tag — ``id3_version=3`` writes v2.3
    (plain 32-bit frame sizes, ISO-8859-1 encoding byte 0),
    ``id3_version=4`` writes v2.4 (SYNCHSAFE frame sizes, UTF-8
    encoding byte 3); ``id3v2_tag_size`` then sets the minimum tag
    size (junk-padded).

    VBR fixture controls (no encoder exists in this container, so
    these hand-built shapes are the conformance corpus):
    ``xing=True`` writes frames+bytes Xing fields; ``vbri=True`` a
    Fraunhofer VBRI header (fixed 32-byte offset); ``vbr=True`` cycles
    the per-frame bitrate through the version's table (true VBR frame
    sizing); ``declared_frames`` overrides the frames field both tags
    carry; ``truncate_frames`` keeps only the first N frames' bytes —
    the head-only-fetch shape where the declared duration is the only
    honest signal."""
    for vbits, rates in _MP3_RATES.items():
        if sample_rate in rates:
            version_bits = vbits
            rate_idx = rates.index(sample_rate)
            break
    else:
        raise ValueError(f"unsupported sample rate {sample_rate}")
    table = _MP3_BITRATES_V1L3 if version_bits == 3 else _MP3_BITRATES_V2L3
    if bitrate_kbps not in table[1:]:
        raise ValueError(f"bitrate {bitrate_kbps} not in L3 table")
    bit_idx = table.index(bitrate_kbps)
    mono = channels == 1
    out = bytearray()
    if id3v2_tag_size is not None or id3_frames:
        body = bytearray()
        for fid, text in (id3_frames or {}).items():
            if id3_version >= 4:
                payload_f = b"\x03" + text.encode("utf-8")
                fl = len(payload_f)
                fsize = bytes([(fl >> 21) & 0x7F, (fl >> 14) & 0x7F,
                               (fl >> 7) & 0x7F, fl & 0x7F])
            else:
                payload_f = b"\x00" + text.encode("latin-1", "replace")
                fsize = struct.pack(">I", len(payload_f))
            body += fid.encode("ascii") + fsize
            body += b"\x00\x00" + payload_f
        pad = max(0, (id3v2_tag_size or 0) - len(body))
        body += bytes((i * 37) % 251 for i in range(pad))
        sz = len(body)
        out += b"ID3" + bytes([id3_version]) + b"\x00\x00" + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        )
        out += body
    audio_start = len(out)
    xing_bytes_at = vbri_bytes_at = None
    vbr_indices = [i for i in range(1, 15) if table[i] > 0]
    for f in range(n_frames):
        pad = f % 2
        f_bit_idx = (
            vbr_indices[(bit_idx - 1 + f) % len(vbr_indices)] if vbr else bit_idx
        )
        f_kbps = table[f_bit_idx]
        flen = _mp3_frame_len(version_bits, f_kbps, sample_rate, pad)
        hdr = bytes([
            0xFF,
            0xE0 | (version_bits << 3) | (0b01 << 1) | 1,  # layer III, no CRC
            (f_bit_idx << 4) | (rate_idx << 2) | (pad << 1),
            (0b11 if mono else 0b00) << 6,
        ])
        body = bytearray(hdr)
        body += bytes((flen - 4))  # zero fill
        if f == 0 and (xing or vbri):
            need = (4 + 32 + 26) if vbri else (
                4 + _mp3_side_info_len(version_bits, mono) + 16
            )
            if flen < need:
                raise ValueError(
                    f"frame too small ({flen}B) for the VBR tag ({need}B)"
                )
        if f == 0 and xing:
            off = 4 + _mp3_side_info_len(version_bits, mono)
            body[off : off + 4] = b"Xing"
            # frames + bytes flags; bytes patched after the build
            body[off + 4 : off + 8] = struct.pack(">I", 0x0003)
            body[off + 8 : off + 12] = struct.pack(
                ">I", declared_frames if declared_frames is not None else n_frames
            )
            xing_bytes_at = len(out) + off + 12
        if f == 0 and vbri:
            # Fraunhofer VBRI: fixed offset 32 bytes after the header
            off = 4 + 32
            body[off : off + 4] = b"VBRI"
            body[off + 4 : off + 6] = struct.pack(">H", 1)  # version
            body[off + 6 : off + 8] = struct.pack(">H", 0)  # delay
            body[off + 8 : off + 10] = struct.pack(">H", 75)  # quality
            vbri_bytes_at = len(out) + off + 10
            body[off + 14 : off + 18] = struct.pack(
                ">I", declared_frames if declared_frames is not None else n_frames
            )
            # empty TOC: 0 entries, scale 1, entry size 2, frames/entry 1
            body[off + 18 : off + 26] = struct.pack(">HHHH", 0, 1, 2, 1)
        out += body
    if xing and xing_bytes_at is not None:
        out[xing_bytes_at : xing_bytes_at + 4] = struct.pack(
            ">I", len(out) - audio_start
        )
    if vbri and vbri_bytes_at is not None:
        out[vbri_bytes_at : vbri_bytes_at + 4] = struct.pack(
            ">I", len(out) - audio_start
        )
    if truncate_frames is not None:
        # keep only the first N frames' bytes — the head-only-fetch /
        # truncated-download shape where the declared VBR duration is
        # the only honest duration signal
        pos = audio_start
        for _ in range(truncate_frames):
            if pos + 4 > len(out):  # asked for more frames than exist
                break
            b1, b2 = out[pos + 1], out[pos + 2]
            vb = (b1 >> 3) & 0x03
            table = _MP3_BITRATES_V1L3 if vb == 3 else _MP3_BITRATES_V2L3
            kbps = table[(b2 >> 4) & 0x0F]
            rate = _MP3_RATES[vb][(b2 >> 2) & 0x03]
            pos += _mp3_frame_len(vb, kbps, rate, (b2 >> 1) & 1)
        out = out[:pos]
    return bytes(out)


def mp3_meta(payload: Optional[bytes]) -> Optional[dict]:
    """{'version', 'bitrate_kbps', 'sample_rate', 'channels',
    'n_frames', 'total_samples', 'duration_ms', 'has_id3v2',
    'has_xing'} from the Layer III frame-header walk, or None.

    The walk skips an ID3v2 prefix (synchsafe size), then advances
    frame-by-frame using each header's own size arithmetic; it stops at
    the first byte position that is not a valid Layer III sync (no
    resync scan — truncated/corrupt tails end the walk, they never
    raise).  ``n_frames`` counts every frame including a Xing/Info
    frame; free-format (bitrate index 0) and reserved fields stop the
    walk."""
    try:
        return _mp3_meta_impl(payload)
    except (struct.error, IndexError, ValueError):
        return None


def _mp3_meta_impl(payload):
    if payload is None or len(payload) < 4:
        return None
    pos = 0
    has_id3 = False
    n = len(payload)
    title = artist = album = None
    if payload[:3] == b"ID3" and n >= 10:
        sz = ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14) | \
             ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        pos = 10 + sz
        has_id3 = True
        # ID3v2.3/v2.4 text frames inside the tag we would otherwise
        # skip blindly: 4-char id + 32-bit size (PLAIN big-endian in
        # v2.3, SYNCHSAFE 7-bit groups in v2.4 — the classic parser
        # divergence) + 2 flag bytes; body starts with an encoding byte
        # (0 = ISO-8859-1, 3 = UTF-8; UTF-16 variants are skipped, not
        # mis-decoded)
        id3_ver = payload[3]
        fp = 10
        tag_end = min(10 + sz, n)
        while fp + 10 <= tag_end:
            fid = payload[fp : fp + 4]
            if not all(0x30 <= c <= 0x5A for c in fid):  # padding/junk
                break
            s4 = payload[fp + 4 : fp + 8]
            if id3_ver >= 4:
                if any(b & 0x80 for b in s4):  # not synchsafe: corrupt
                    break
                flen = (s4[0] << 21) | (s4[1] << 14) | (s4[2] << 7) | s4[3]
            else:
                (flen,) = struct.unpack_from(">I", payload, fp + 4)
            body = fp + 10
            if flen < 1 or body + flen > tag_end:
                break
            enc = payload[body]
            if enc in (0, 3):
                txt = payload[body + 1 : body + flen].split(b"\x00")[0]
                val = txt.decode("utf-8" if enc == 3 else "latin-1",
                                 "replace")
                if fid == b"TIT2":
                    title = val
                elif fid == b"TPE1":
                    artist = val
                elif fid == b"TALB":
                    album = val
            fp = body + flen
    out = None
    n_frames = 0
    total_samples = 0
    has_xing = False
    first_spf = 1152
    xing_frames = xing_bytes = vbri_frames = vbri_bytes = None
    while pos + 4 <= n:
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version_bits = (b1 >> 3) & 0x03
        layer_bits = (b1 >> 1) & 0x03
        if version_bits == 1 or layer_bits != 0b01:  # reserved / not L3
            break
        bit_idx = (b2 >> 4) & 0x0F
        rate_idx = (b2 >> 2) & 0x03
        if bit_idx in (0, 15) or rate_idx == 3:  # free-format / reserved
            break
        table = _MP3_BITRATES_V1L3 if version_bits == 3 else _MP3_BITRATES_V2L3
        bitrate = table[bit_idx]
        sample_rate = _MP3_RATES[version_bits][rate_idx]
        pad = (b2 >> 1) & 1
        mode = (b3 >> 6) & 0x03
        channels = 1 if mode == 0b11 else 2
        spf = 1152 if version_bits == 3 else 576
        flen = _mp3_frame_len(version_bits, bitrate, sample_rate, pad)
        if flen < 4 or pos + flen > n:
            break
        if out is None:
            out = {
                "version": {3: "1", 2: "2", 0: "2.5"}[version_bits],
                "bitrate_kbps": bitrate,
                "sample_rate": sample_rate,
                "channels": channels,
            }
            first_spf = spf
            off = pos + 4 + _mp3_side_info_len(version_bits, channels == 1)
            tag = payload[off : off + 4]
            if tag in (b"Xing", b"Info") and off + 8 <= n:
                has_xing = True
                # Xing fields: flags then frames(4)/bytes(4)/TOC(100)/
                # quality(4) in flag order — the VBR duration source
                (flags,) = struct.unpack_from(">I", payload, off + 4)
                fp2 = off + 8
                if flags & 0x1 and fp2 + 4 <= n:
                    (xing_frames,) = struct.unpack_from(">I", payload, fp2)
                    fp2 += 4
                if flags & 0x2 and fp2 + 4 <= n:
                    (xing_bytes,) = struct.unpack_from(">I", payload, fp2)
            voff = pos + 4 + 32  # Fraunhofer VBRI: fixed offset
            if payload[voff : voff + 4] == b"VBRI" and voff + 18 <= n:
                (vbri_bytes,) = struct.unpack_from(">I", payload, voff + 10)
                (vbri_frames,) = struct.unpack_from(">I", payload, voff + 14)
        n_frames += 1
        total_samples += spf
        pos += flen
    if out is None or n_frames == 0:
        return None
    out["n_frames"] = n_frames
    out["total_samples"] = total_samples
    out["duration_ms"] = total_samples * 1000 // out["sample_rate"]
    out["has_id3v2"] = has_id3
    out["has_xing"] = has_xing
    out["title"] = title
    out["artist"] = artist
    out["album"] = album
    # VBR duration: a Xing/VBRI frames field is authoritative for VBR
    # and truncated streams (the walked count only covers fetched
    # bytes) — players derive duration from it; so do we.
    out["xing_frames"] = xing_frames
    out["xing_bytes"] = xing_bytes
    out["vbri_frames"] = vbri_frames
    out["vbri_bytes"] = vbri_bytes
    declared = xing_frames if xing_frames is not None else vbri_frames
    out["declared_frames"] = declared
    out["declared_total_samples"] = (
        declared * first_spf if declared is not None else None
    )
    out["declared_duration_ms"] = (
        declared * first_spf * 1000 // out["sample_rate"]
        if declared is not None
        else None
    )
    return out
