"""RIFF/AVI container parsing and REAL video frame decode for the
codecs a pure-Python engine can own: MJPEG (each frame is a baseline
JPEG, decoded by pipeline/jpeg.py) and uncompressed bottom-up DIB.

This closes the "video frame decode" gap for the one family that
needs no native codec: MJPEG remains common in surveillance /
capture-card corpora, and DIB covers raw-dump AVIs. Anything else
(H.264, VP9, AV1) is not decoded.

MJPEG quirk handled for real: many MJPEG writers OMIT the Huffman
tables from every frame (historical Microsoft reading of the spec);
decoders are expected to fall back to the JPEG Annex K typical
tables. `_ensure_huffman` splices a DHT segment with the four
standard tables before the SOS when a frame carries none.

Reference parity: the reference engine has no video path at all —
this goes past it (SURVEY §2.8).

Container layout (public AVI RIFF spec):
  RIFF('AVI ') { LIST('hdrl') { avih, LIST('strl'){strh, strf} * },
                 LIST('movi') { '##dc'/'##db'/'##wb' chunks }, idx1? }
Chunk ids are 2-digit stream index + 'dc' (compressed video), 'db'
(uncompressed DIB) or 'wb' (audio); chunk bodies pad to even length.
"""

from __future__ import annotations

import struct

AVI_SIG = b"RIFF"

# JPEG Annex K "typical" Huffman tables (K.3.3.1-K.3.3.2): the tables
# MJPEG frames assume when they ship without DHT segments.
_STD_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_STD_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _std_dht_segment() -> bytes:
    """One DHT segment carrying all four Annex K tables."""
    body = bytearray()
    for tc_th, (bits, vals) in (
        (0x00, _STD_DC_LUM),
        (0x01, _STD_DC_CHR),
        (0x10, _STD_AC_LUM),
        (0x11, _STD_AC_CHR),
    ):
        body.append(tc_th)
        body += bytes(bits)
        body += bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + bytes(body)


def _ensure_huffman(jpeg: bytes) -> bytes:
    """Splice the standard tables before SOS when a (MJPEG) frame
    carries no DHT segment; frames with tables pass through as-is."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG frame")
    pos = 2
    n = len(jpeg)
    while pos + 4 <= n:
        if jpeg[pos] != 0xFF:
            raise ValueError(f"invalid JPEG frame: expected marker at {pos}")
        marker = jpeg[pos + 1]
        if marker == 0xC4:  # DHT present — nothing to do
            return jpeg
        if marker == 0xDA:  # SOS without any DHT
            return jpeg[:pos] + _std_dht_segment() + jpeg[pos:]
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", jpeg[pos + 2 : pos + 4])
        pos += 2 + seglen
    raise ValueError("invalid JPEG frame: no SOS")


def _chunks(data: bytes, lo: int, hi: int):
    """(fourcc, body_lo, body_hi) over a RIFF chunk run; bodies pad
    to even offsets per the spec."""
    while lo + 8 <= hi:
        cid = data[lo : lo + 4]
        (size,) = struct.unpack("<I", data[lo + 4 : lo + 8])
        body = lo + 8
        yield cid, body, min(body + size, hi)
        lo = body + size + (size & 1)


def parse_avi(data: bytes) -> dict:
    """Structural parse -> {usec_per_frame, total_frames, width,
    height, streams: [{type, handler, scale, rate, length, width,
    height, compression}], movi: (lo, hi)}."""
    if data[:4] != AVI_SIG or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    out: dict = {"streams": [], "movi": None}

    def parse_strl(lo: int, hi: int):
        st: dict = {}
        for cid, b, e in _chunks(data, lo, hi):
            if cid == b"strh":
                st["type"] = data[b : b + 4].decode("latin1")
                st["handler"] = data[b + 4 : b + 8].decode("latin1").strip()
                st["scale"], st["rate"], _start, st["length"] = struct.unpack(
                    "<IIII", data[b + 20 : b + 36]
                )
            elif cid == b"strf" and st.get("type") == "vids":
                # BITMAPINFOHEADER
                (_bisize, bw, bh, _planes, bitcount) = struct.unpack(
                    "<IiiHH", data[b : b + 16]
                )
                comp = data[b + 16 : b + 20]
                st["width"] = bw
                st["height"] = abs(bh)
                st["bottom_up"] = bh > 0
                st["bit_count"] = bitcount
                st["compression"] = (
                    "DIB"
                    if comp == b"\x00\x00\x00\x00"
                    else comp.decode("latin1").strip()
                )
        out["streams"].append(st)

    for cid, b, e in _chunks(data, 12, len(data)):
        if cid != b"LIST":
            continue
        ltype = data[b : b + 4]
        if ltype == b"hdrl":
            for cid2, b2, e2 in _chunks(data, b + 4, e):
                if cid2 == b"avih":
                    (
                        out["usec_per_frame"],
                        _maxbps,
                        _pad,
                        _flags,
                        out["total_frames"],
                    ) = struct.unpack("<IIIII", data[b2 : b2 + 20])
                    out["width"], out["height"] = struct.unpack(
                        "<II", data[b2 + 32 : b2 + 40]
                    )
                elif cid2 == b"LIST" and data[b2 : b2 + 4] == b"strl":
                    parse_strl(b2 + 4, e2)
        elif ltype == b"movi":
            out["movi"] = (b + 4, e)
    if out["movi"] is None or "usec_per_frame" not in out:
        raise ValueError("invalid AVI: missing hdrl/movi")
    return out


def probe_avi_bytes(data: bytes) -> dict:
    """Catalog-time metadata in the same vocabulary probe_mp4_bytes
    uses: brand, duration_ms, tracks[{kind, codec, width, height}]."""
    meta = parse_avi(data)
    tracks = []
    dur = 0
    for st in meta["streams"]:
        kind = {"vids": "vide", "auds": "soun"}.get(st.get("type"), "meta")
        trk = {"kind": kind, "codec": st.get("handler") or None}
        if kind == "vide":
            trk["width"] = st.get("width", meta.get("width"))
            trk["height"] = st.get("height", meta.get("height"))
            if st.get("rate"):
                dur = st["length"] * 1000 * st["scale"] // st["rate"]
        tracks.append(trk)
    if dur == 0:
        dur = meta["total_frames"] * meta["usec_per_frame"] // 1000
    return {"brand": "AVI ", "duration_ms": dur, "tracks": tracks}


def _decode_dib(body: bytes, w: int, h: int, bitcount: int, bottom_up: bool) -> bytes:
    """Uncompressed DIB frame -> row-major RGB: BGR byte order,
    bottom-up rows (usually), stride padded to 4 bytes."""
    if bitcount not in (24, 32):
        raise ValueError(f"unsupported DIB bit count {bitcount}")
    bpp = bitcount // 8
    stride = (w * bpp + 3) & ~3
    try:
        # numpy fast path: strided view + channel reversal (same
        # BGR->RGB, same bottom-up flip, byte-identical)
        import numpy as np

        a = np.frombuffer(body[: stride * h], dtype=np.uint8).reshape(
            h, stride
        )[:, : w * bpp].reshape(h, w, bpp)
        if bottom_up:
            a = a[::-1]
        return a[:, :, 2::-1].tobytes()  # BGR(A) -> RGB, alpha dropped
    except ImportError:  # pragma: no cover - numpy is baked in
        pass
    out = bytearray(w * h * 3)
    for y in range(h):
        src = (h - 1 - y if bottom_up else y) * stride
        dst = y * w * 3
        for x in range(w):
            o = src + x * bpp
            out[dst + x * 3] = body[o + 2]  # R
            out[dst + x * 3 + 1] = body[o + 1]  # G
            out[dst + x * 3 + 2] = body[o]  # B
    return bytes(out)


def decode_avi_frames(
    data: bytes, max_frames: int = 64
) -> tuple[int, int, list[tuple[int, int, bytes]]]:
    """-> (width, height, [(ts_ms, channels, row-major pixels)]).

    Decodes the FIRST video stream: MJPG/'dc' chunks through the
    baseline JPEG decoder (standard-table fallback applied), 'db'
    chunks as uncompressed DIB. Timestamps come from the stream
    scale/rate clock (avih µs/frame fallback)."""
    from openset_spark.pipeline.jpeg import decode_jpeg_bytes

    meta = parse_avi(data)
    vidx = next(
        (i for i, s in enumerate(meta["streams"]) if s.get("type") == "vids"),
        None,
    )
    if vidx is None:
        raise ValueError("AVI has no video stream")
    st = meta["streams"][vidx]
    prefix = b"%02d" % vidx
    if st.get("rate"):
        num_ms, den = 1000 * st["scale"], st["rate"]
    else:
        num_ms, den = meta["usec_per_frame"], 1000
    frames: list[tuple[int, int, bytes]] = []
    i = 0
    for cid, b, e in _chunks(data, *meta["movi"]):
        if cid[:2] != prefix or cid[2:4] not in (b"dc", b"db"):
            continue
        if e - b == 0:  # dropped-frame placeholder
            i += 1
            continue
        ts = i * num_ms // den
        if cid[2:4] == b"dc":
            _w, _h, ch, px = decode_jpeg_bytes(_ensure_huffman(data[b:e]))
        else:
            px = _decode_dib(
                data[b:e],
                st["width"],
                st["height"],
                st.get("bit_count", 24),
                st.get("bottom_up", True),
            )
            ch = 3
        frames.append((ts, ch, px))
        i += 1
        if len(frames) >= max_frames:
            break
    return st.get("width", meta["width"]), st.get("height", meta["height"]), frames
