"""GIF decoder (pipeline/gif.py) vs an in-test GIF ENCODER with real
LZW compression: exact pixels across palettes, interlacing, frame
offsets, transparency and dictionary growth/code-size bumps."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from openset_spark.pipeline.gif import (
    decode_gif_bytes,
    gif_frame_count,
)


# ------------------------------------------------- in-test encoder
class _BitWriterLSB:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int):
        self.acc |= value << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """Textbook GIF LZW: emit clear, build the dictionary, bump the
    code width as the table grows, reset at 4096."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _BitWriterLSB()

    def fresh():
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    code_size = min_code_size + 1
    w.put(clear, code_size)
    buf = b""
    for b in indices:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        w.put(table[buf], code_size)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code == 4096:
            w.put(clear, code_size)
            table = fresh()
            next_code = eoi + 1
            code_size = min_code_size + 1
        buf = bytes([b])
    if buf:
        w.put(table[buf], code_size)
    w.put(eoi, code_size)
    return w.flush()


def _interlace_rows(h: int) -> list[int]:
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def encode_gif(
    screen_w: int,
    screen_h: int,
    palette: list[tuple[int, int, int]],
    indices: bytes,
    fw: int | None = None,
    fh: int | None = None,
    left: int = 0,
    top: int = 0,
    interlace: bool = False,
    transparent: int | None = None,
    extra_frames: int = 0,
) -> bytes:
    fw = screen_w if fw is None else fw
    fh = screen_h if fh is None else fh
    # pad palette to a power of two >= 2
    n = 2
    while n < len(palette):
        n *= 2
    pal = list(palette) + [(0, 0, 0)] * (n - len(palette))
    bits = max(1, (n - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", screen_w, screen_h, 0x80 | (bits - 1), 0, 0)
    for r, g, b in pal:
        out += bytes((r, g, b))

    def frame(idx: bytes):
        if transparent is not None:
            out.extend(b"\x21\xf9\x04")
            out.extend(bytes((0x01, 0, 0, transparent, 0)))
        body = idx
        if interlace:
            rows = [idx[y * fw : (y + 1) * fw] for y in _interlace_rows(fh)]
            body = b"".join(rows)
        out.append(0x2C)
        out.extend(struct.pack(
            "<HHHHB", left, top, fw, fh, 0x40 if interlace else 0
        ))
        mcs = max(2, bits)
        out.append(mcs)
        lzw = _lzw_encode(mcs, body)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out.extend(chunk)
        out.append(0)

    frame(indices)
    for _ in range(extra_frames):
        frame(indices)
    out.append(0x3B)
    return bytes(out)


def _expected(screen_w, screen_h, palette, indices, fw, fh, left, top, transparent):
    ch = 3 if transparent is None else 4
    img = np.zeros((screen_h, screen_w, ch), dtype=np.uint8)
    p0 = palette[0]
    blank = p0 + ((0,) if transparent is not None else ())
    if transparent is not None and len(blank) == 3:
        blank = blank + (0,)
    img[:, :] = blank[:ch] if transparent is None else (*p0, 0)
    for y in range(fh):
        for x in range(fw):
            i = indices[y * fw + x]
            px = palette[i]
            if transparent is not None:
                px = (*px, 0 if i == transparent else 255)
            img[top + y, left + x] = px
    return img


def _roundtrip(screen_w, screen_h, palette, indices, **kw):
    data = encode_gif(screen_w, screen_h, palette, indices, **kw)
    w, h, ch, px = decode_gif_bytes(data)
    fw = kw.get("fw", screen_w) or screen_w
    fh = kw.get("fh", screen_h) or screen_h
    exp = _expected(
        screen_w, screen_h, palette, indices, fw, fh,
        kw.get("left", 0), kw.get("top", 0), kw.get("transparent"),
    )
    assert (w, h, ch) == (screen_w, screen_h, exp.shape[2])
    got = np.frombuffer(px, dtype=np.uint8).reshape(exp.shape)
    np.testing.assert_array_equal(got, exp)
    return data


PAL4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]


def test_gif_basic_roundtrip():
    rng = np.random.default_rng(5)
    idx = bytes(rng.integers(0, 4, size=16 * 11, dtype=np.uint8))
    _roundtrip(16, 11, PAL4, idx)


def test_gif_dictionary_growth_large_image():
    """Enough repetitive data to grow the LZW table through several
    code-size bumps (and exercise the KwKwK case via runs)."""
    rng = np.random.default_rng(6)
    runs = []
    while sum(len(r) for r in runs) < 120 * 90:
        runs.append(bytes([int(rng.integers(0, 4))]) * int(rng.integers(1, 30)))
    idx = b"".join(runs)[: 120 * 90]
    _roundtrip(120, 90, PAL4, idx)


def test_gif_interlaced():
    rng = np.random.default_rng(7)
    idx = bytes(rng.integers(0, 4, size=20 * 17, dtype=np.uint8))
    _roundtrip(20, 17, PAL4, idx, interlace=True)


def test_gif_transparency_and_offset_frame():
    rng = np.random.default_rng(8)
    idx = bytes(rng.integers(0, 4, size=6 * 5, dtype=np.uint8))
    _roundtrip(
        12, 9, PAL4, idx, fw=6, fh=5, left=3, top=2, transparent=2
    )


def test_gif_frame_count_and_invalid():
    idx = bytes([0, 1, 2, 3] * 4)
    data = encode_gif(4, 4, PAL4, idx, extra_frames=2)
    assert gif_frame_count(data) == 3
    w, h, ch, _ = decode_gif_bytes(data)  # still decodes frame 1
    assert (w, h, ch) == (4, 4, 3)
    with pytest.raises(ValueError):
        decode_gif_bytes(b"NOTGIF" + b"\x00" * 20)


def test_gif_fuzz_roundtrip():
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:  # pragma: no cover
        pytest.skip("hypothesis not installed")

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 10**6),
        w=st.integers(1, 25),
        h=st.integers(1, 20),
        ncolors=st.sampled_from([2, 4, 7, 16]),
        interlace=st.booleans(),
        transparent=st.booleans(),
    )
    def run(seed, w, h, ncolors, interlace, transparent):
        rng = np.random.default_rng(seed)
        pal = [
            tuple(int(v) for v in rng.integers(0, 256, size=3))
            for _ in range(ncolors)
        ]
        idx = bytes(rng.integers(0, ncolors, size=w * h, dtype=np.uint8))
        _roundtrip(
            w, h, pal, idx,
            interlace=interlace,
            transparent=0 if transparent else None,
        )

    run()


def encode_gif_anim(screen_w, screen_h, palette, frames):
    """frames: list of dicts {indices, fw, fh, left, top, disposal,
    delay_cs, transparent} — full 89a animation encoder."""
    n = 2
    while n < len(palette):
        n *= 2
    pal = list(palette) + [(0, 0, 0)] * (n - len(palette))
    bits = max(1, (n - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", screen_w, screen_h, 0x80 | (bits - 1), 0, 0)
    for r, g, b in pal:
        out += bytes((r, g, b))
    for f in frames:
        flags = (f.get("disposal", 0) & 0x07) << 2
        if f.get("transparent") is not None:
            flags |= 0x01
        out.extend(b"\x21\xf9\x04")
        out.extend(bytes((
            flags, f.get("delay_cs", 10) & 0xFF,
            (f.get("delay_cs", 10) >> 8) & 0xFF,
            f.get("transparent") or 0, 0,
        )))
        fw, fh = f["fw"], f["fh"]
        out.append(0x2C)
        out.extend(struct.pack(
            "<HHHHB", f.get("left", 0), f.get("top", 0), fw, fh, 0
        ))
        mcs = max(2, bits)
        out.append(mcs)
        lzw = _lzw_encode(mcs, f["indices"])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out.extend(chunk)
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def test_gif_animation_disposal_and_delays():
    """Three frames exercising keep / restore-background /
    restore-previous disposal plus per-frame transparency and
    offsets; composition checked pixel-exactly."""
    from openset_spark.pipeline.gif import decode_gif_frames

    pal = [(250, 0, 0), (0, 250, 0), (0, 0, 250), (200, 200, 0)]
    W, H = 6, 4
    # frame 0: full screen color 0, disposal keep
    f0 = {"indices": bytes([0] * (W * H)), "fw": W, "fh": H,
          "disposal": 1, "delay_cs": 5}
    # frame 1: 2x2 patch of color 1 at (1,1), restore-background after
    f1 = {"indices": bytes([1] * 4), "fw": 2, "fh": 2, "left": 1,
          "top": 1, "disposal": 2, "delay_cs": 7}
    # frame 2: 2x1 patch color 2 at (3,2) with transparent index 3,
    # disposal restore-previous
    f2 = {"indices": bytes([2, 3]), "fw": 2, "fh": 1, "left": 3,
          "top": 2, "disposal": 3, "transparent": 3, "delay_cs": 3}
    data = encode_gif_anim(W, H, pal, [f0, f1, f2])

    w, h, frames = decode_gif_frames(data)
    assert (w, h) == (W, H) and len(frames) == 3
    assert [d for d, _ in frames] == [50, 70, 30]

    def px(buf, x, y):
        j = (y * W + x) * 4
        return tuple(buf[j : j + 4])

    base = (250, 0, 0, 255)
    # frame 0: solid color 0
    assert all(
        px(frames[0][1], x, y) == base for y in range(H) for x in range(W)
    )
    # frame 1: patch over base
    assert px(frames[1][1], 1, 1) == (0, 250, 0, 255)
    assert px(frames[1][1], 0, 0) == base
    # frame 2: background-restored hole where the patch was...
    assert px(frames[2][1], 1, 1) == (0, 0, 0, 0)
    assert px(frames[2][1], 2, 2) == (0, 0, 0, 0)
    # ...new opaque pixel drawn, transparent one skipped (shows base)
    assert px(frames[2][1], 3, 2) == (0, 0, 250, 255)
    assert px(frames[2][1], 4, 2) == base
