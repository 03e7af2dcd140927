"""RIFF/AVI container + MJPEG/DIB frame decode.

Every AVI here is built by the in-test writer below; MJPEG frames
come from the in-test baseline JPEG encoder (tests/test_jpeg.py) so
expected pixels are computed independently of the production decoder.
The missing-DHT test encodes with REAL Annex K canonical codes and
ships the frame without any DHT segment — the classic MJPEG quirk.
"""

from __future__ import annotations

import struct

import numpy as np

from openset_spark.pipeline.avi import (
    _STD_AC_LUM,
    _STD_DC_LUM,
    _ensure_huffman,
    decode_avi_frames,
    parse_avi,
    probe_avi_bytes,
)
from openset_spark.pipeline.jpeg import decode_jpeg_bytes
from tests.test_jpeg import (
    _BitWriter,
    _amplitude,
    _category,
    _expected_pixels,
    _rand_blocks,
    encode_baseline_jpeg,
)


# ------------------------------------------------- in-test AVI writer
def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def _avi_bytes(
    frames: list[tuple[bytes, bytes]],
    w: int,
    h: int,
    scale: int = 1,
    rate: int = 10,
    handler: bytes = b"MJPG",
    compression: bytes = b"MJPG",
    bit_count: int = 24,
    audio_stream_first: bool = False,
) -> bytes:
    """frames: [(suffix b'dc'|b'db', payload)]. Optionally puts a
    dummy audio stream at index 0 so the video stream is '01'."""
    uspf = 1_000_000 * scale // rate
    avih = _chunk(
        b"avih",
        struct.pack("<IIIII", uspf, 0, 0, 0, len(frames))
        + struct.pack("<III", 0, 2 if audio_stream_first else 1, 0)
        + struct.pack("<II", w, h)
        + b"\x00" * 16,
    )
    strh_v = _chunk(
        b"strh",
        b"vids"
        + handler
        + struct.pack("<IHHI", 0, 0, 0, 0)
        + struct.pack("<IIII", scale, rate, 0, len(frames))
        + struct.pack("<III", 0, 0, 0)
        + struct.pack("<HHHH", 0, 0, w, h),
    )
    strf_v = _chunk(
        b"strf",
        struct.pack("<IiiHH", 40, w, h, 1, bit_count)
        + (b"\x00\x00\x00\x00" if compression == b"DIB " else compression)
        + struct.pack("<IiiII", w * h * 3, 0, 0, 0, 0),
    )
    strl_v = _list(b"strl", strh_v + strf_v)
    strls = strl_v
    if audio_stream_first:
        strh_a = _chunk(
            b"strh",
            b"auds"
            + b"\x00" * 4
            + struct.pack("<IHHI", 0, 0, 0, 0)
            + struct.pack("<IIII", 1, 8000, 0, 8000)
            + struct.pack("<III", 0, 0, 0)
            + struct.pack("<HHHH", 0, 0, 0, 0),
        )
        strf_a = _chunk(b"strf", b"\x00" * 16)
        strls = _list(b"strl", strh_a + strf_a) + strl_v
    hdrl = _list(b"hdrl", avih + strls)
    sidx = b"01" if audio_stream_first else b"00"
    movi = _list(
        b"movi", b"".join(_chunk(sidx + sfx, p) for sfx, p in frames)
    )
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def _gray_comp(rng, nx, ny):
    return [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, nx, ny)}]


_Q50 = [16] * 64


def test_avi_mjpeg_frames_exact_pixels():
    rng = np.random.default_rng(60)
    w, h = 16, 8
    comps = [_gray_comp(rng, 2, 1) for _ in range(3)]
    frames = [(b"dc", encode_baseline_jpeg(w, h, c, [_Q50])) for c in comps]
    data = _avi_bytes(frames, w, h, scale=1, rate=10)
    gw, gh, out = decode_avi_frames(data)
    assert (gw, gh) == (w, h)
    assert [f[0] for f in out] == [0, 100, 200]  # stream clock, ms
    for (ts, ch, px), c in zip(out, comps):
        assert ch == 1
        exp = _expected_pixels(w, h, c, [_Q50])
        np.testing.assert_array_equal(
            np.frombuffer(px, dtype=np.uint8).reshape(exp.shape), exp
        )


def test_avi_dib_frames_bottom_up_bgr_padded():
    # w=3 -> 9-byte rows pad to 12; bottom-up BGR
    w, h = 3, 2
    px_rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        for x in range(w):
            r, g, b = px_rgb[y, x]
            body += bytes([b, g, r])
        body += b"\x00" * (12 - 9)
    data = _avi_bytes(
        [(b"db", bytes(body))], w, h, handler=b"DIB ", compression=b"DIB "
    )
    gw, gh, out = decode_avi_frames(data)
    assert (gw, gh, len(out)) == (w, h, 1)
    ts, ch, px = out[0]
    assert ch == 3
    np.testing.assert_array_equal(
        np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3), px_rgb
    )


def test_avi_video_not_stream_zero():
    rng = np.random.default_rng(61)
    w, h = 8, 8
    c = _gray_comp(rng, 1, 1)
    data = _avi_bytes(
        [(b"dc", encode_baseline_jpeg(w, h, c, [_Q50]))],
        w, h, audio_stream_first=True,
    )
    meta = parse_avi(data)
    assert [s.get("type") for s in meta["streams"]] == ["auds", "vids"]
    gw, gh, out = decode_avi_frames(data)
    assert (gw, gh, len(out)) == (w, h, 1)


def test_probe_avi_metadata():
    rng = np.random.default_rng(62)
    w, h = 8, 8
    c = _gray_comp(rng, 1, 1)
    frames = [(b"dc", encode_baseline_jpeg(w, h, c, [_Q50]))] * 5
    meta = probe_avi_bytes(_avi_bytes(frames, w, h, scale=1, rate=25))
    assert meta["brand"] == "AVI "
    assert meta["duration_ms"] == 5 * 1000 // 25
    vid = next(t for t in meta["tracks"] if t["kind"] == "vide")
    assert vid["codec"] == "MJPG"
    assert (vid["width"], vid["height"]) == (w, h)


# --------------------------------------- missing-DHT (MJPEG quirk)
def _canon_codes(bits, vals):
    """Canonical Huffman assignment per T.81 C.2 — the SAME rule the
    production decoder uses, applied to the Annex K tables."""
    codes = {}
    code = 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return codes


def _encode_gray_std_tables_no_dht(w, h, comp, qtable):
    """Gray baseline JPEG encoded with the REAL Annex K tables but
    shipped WITHOUT any DHT segment."""
    dc = _canon_codes(*_STD_DC_LUM)
    ac = _canon_codes(*_STD_AC_LUM)
    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    seg(0xDB, bytes([0]) + bytes(qtable))
    seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bw = _BitWriter()
    nx, ny = (w + 7) // 8, (h + 7) // 8
    pred = 0
    for by in range(ny):
        for bx in range(nx):
            zz = comp[0]["blocks"][(bx, by)]
            diff = zz[0] - pred
            pred = zz[0]
            t = _category(diff)
            bw.put(*dc[t])
            bw.put(_amplitude(diff, t), t)
            run = 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.put(*ac[0xF0])
                    run -= 16
                s = _category(zz[k])
                bw.put(*ac[(run << 4) | s])
                bw.put(_amplitude(zz[k], s), s)
                run = 0
            if run:
                bw.put(*ac[0x00])
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def test_mjpeg_missing_dht_standard_table_fallback():
    rng = np.random.default_rng(63)
    w, h = 16, 16
    comp = _gray_comp(rng, 2, 2)
    bare = _encode_gray_std_tables_no_dht(w, h, comp, _Q50)
    # undecodable as-is...
    try:
        decode_jpeg_bytes(bare)
        assert False, "expected failure without huffman tables"
    except (ValueError, KeyError):
        pass
    # ...decodes exactly after the standard-table splice
    gw, gh, ch, px = decode_jpeg_bytes(_ensure_huffman(bare))
    exp = _expected_pixels(w, h, comp, [_Q50])
    np.testing.assert_array_equal(
        np.frombuffer(px, dtype=np.uint8).reshape(exp.shape), exp
    )
    # frames WITH their own tables pass through untouched
    withdht = encode_baseline_jpeg(w, h, comp, [_Q50])
    assert _ensure_huffman(withdht) is withdht


def test_mjpeg_missing_dht_through_avi():
    rng = np.random.default_rng(64)
    w, h = 8, 8
    comp = _gray_comp(rng, 1, 1)
    bare = _encode_gray_std_tables_no_dht(w, h, comp, _Q50)
    data = _avi_bytes([(b"dc", bare)], w, h)
    _, _, out = decode_avi_frames(data)
    exp = _expected_pixels(w, h, comp, [_Q50])
    np.testing.assert_array_equal(
        np.frombuffer(out[0][2], dtype=np.uint8).reshape(exp.shape), exp
    )
