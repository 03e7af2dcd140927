"""FLAC decoder (pipeline/flac.py) — exact sample round-trips against
an in-test encoder (the PNG/VP8L/GIF lossless methodology): the
encoder below writes real FLAC framing — STREAMINFO, frame headers,
constant/verbatim/fixed/LPC subframes, partitioned Rice residuals
with escapes, wasted bits, and all four channel assignments — and
every decode must reproduce the source samples bit-exactly.
Predictor math is additionally pinned by hand-computed cases so the
encoder and decoder cannot share a transcription error."""

from __future__ import annotations

import pytest

from openset_spark.pipeline.flac import (
    FIXED_COEFS,
    decode_flac_bytes,
)


class _W:
    def __init__(self):
        self.bits: list[int] = []

    def w(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ws(self, v: int, n: int):
        self.w(v & ((1 << n) - 1), n)

    def unary(self, q: int):
        self.bits.extend([0] * q + [1])

    def align(self):
        while len(self.bits) % 8:
            self.bits.append(0)

    def bytes(self) -> bytes:
        self.align()
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _rice_write(w: _W, residual, param: int, porder: int, order: int):
    """method-0 Rice, 2^porder partitions."""
    w.w(0, 2)
    w.w(porder, 4)
    n = len(residual) + order
    nparts = 1 << porder
    idx = 0
    for pi in range(nparts):
        cnt = n // nparts - (order if pi == 0 else 0)
        w.w(param, 4)
        for _ in range(cnt):
            e = residual[idx]
            idx += 1
            u = (e << 1) if e >= 0 else ((-e) << 1) - 1  # zigzag
            w.unary(u >> param)
            w.w(u & ((1 << param) - 1), param)
    assert idx == len(residual)


def _rice_escape_write(w: _W, residual, k: int, order: int):
    w.w(0, 2)
    w.w(0, 4)  # one partition
    w.w(15, 4)  # escape
    w.w(k, 5)
    for e in residual:
        w.ws(e, k)


class _Enc:
    """Minimal real-framing FLAC encoder for the tests."""

    def __init__(self, rate=8000, bps=16):
        self.rate, self.bps = rate, bps

    def stream(self, frames: list[bytes], channels: int, total: int) -> bytes:
        si = _W()
        si.w(16, 16)  # min block
        si.w(65535, 16)  # max block
        si.w(0, 24)
        si.w(0, 24)
        si.w(self.rate, 20)
        si.w(channels - 1, 3)
        si.w(self.bps - 1, 5)
        si.w(total, 36)
        body = si.bytes() + b"\x00" * 16  # md5 zeroed (not enforced)
        hdr = bytes([0x80]) + len(body).to_bytes(3, "big")
        return b"fLaC" + hdr + body + b"".join(frames)

    def frame_header(
        self, w: _W, n: int, ch_code: int, frame_no: int, bps_code=0
    ):
        w.w(0x3FFE, 14)
        w.w(0, 1)
        w.w(0, 1)  # fixed blocksize strategy
        w.w(7, 4)  # block size: 16-bit at end, n-1
        w.w(0, 4)  # rate: from STREAMINFO
        w.w(ch_code, 4)
        w.w(bps_code, 3)  # 0 = from STREAMINFO
        w.w(0, 1)
        assert frame_no < 0x80
        w.w(frame_no, 8)  # utf8 single byte
        w.w(n - 1, 16)
        w.w(0, 8)  # CRC-8 (decoder parses, does not enforce)

    def constant_sub(self, w: _W, v: int, bps: int):
        w.w(0, 1)
        w.w(0, 6)
        w.w(0, 1)
        w.ws(v, bps)

    def verbatim_sub(self, w: _W, xs, bps: int, wasted=0):
        w.w(0, 1)
        w.w(1, 6)
        if wasted:
            w.w(1, 1)
            w.unary(wasted - 1)
        else:
            w.w(0, 1)
        for x in xs:
            w.ws(x >> wasted, bps - wasted)

    def fixed_sub(self, w: _W, xs, order: int, bps: int, param=4, porder=0):
        w.w(0, 1)
        w.w(8 + order, 6)
        w.w(0, 1)
        for x in xs[:order]:
            w.ws(x, bps)
        coefs = FIXED_COEFS[order]
        res = []
        for i in range(order, len(xs)):
            pred = sum(c * xs[i - 1 - j] for j, c in enumerate(coefs))
            res.append(xs[i] - pred)
        _rice_write(w, res, param, porder, order)

    def lpc_sub(self, w: _W, xs, coefs, shift: int, prec: int, bps: int):
        order = len(coefs)
        w.w(0, 1)
        w.w(32 + order - 1, 6)
        w.w(0, 1)
        for x in xs[:order]:
            w.ws(x, bps)
        w.w(prec - 1, 4)
        w.ws(shift, 5)
        for c in coefs:
            w.ws(c, prec)
        res = []
        for i in range(order, len(xs)):
            acc = sum(c * xs[i - 1 - j] for j, c in enumerate(coefs))
            res.append(xs[i] - (acc >> shift))
        _rice_write(w, res, 6, 0, order)

    def frame(self, build) -> bytes:
        w = _W()
        build(w)
        return w.bytes() + b"\x00\x00"  # CRC-16 placeholder


def test_constant_and_verbatim_roundtrip():
    enc = _Enc()
    xs = [100, -100, 32000, -32768, 0, 7, -1, 255] * 2

    def f0(w):
        enc.frame_header(w, 16, 0, 0)  # mono
        enc.constant_sub(w, -1234, 16)

    def f1(w):
        enc.frame_header(w, 16, 0, 1)
        enc.verbatim_sub(w, xs, 16)

    data = enc.stream([enc.frame(f0), enc.frame(f1)], 1, 32)
    rate, ch, bps, chans = decode_flac_bytes(data)
    assert (rate, ch, bps) == (8000, 1, 16)
    assert chans[0] == [-1234] * 16 + xs


def test_fixed_orders_roundtrip():
    enc = _Enc()
    # a smooth-ish ramp so every fixed order has small residuals
    xs = [i * i // 8 - 40 * i + 100 for i in range(16)]
    frames = []
    for k, order in enumerate((0, 1, 2, 3, 4)):
        def f(w, order=order, k=k):
            enc.frame_header(w, 16, 0, k)
            enc.fixed_sub(w, xs, order, 16, param=6)
        frames.append(enc.frame(f))
    data = enc.stream(frames, 1, 80)
    _, _, _, chans = decode_flac_bytes(data)
    assert chans[0] == xs * 5


def test_fixed_predictor_hand_case():
    """Order-2 predictor: pred = 2*x[i-1] - x[i-2] (the spec's
    polynomial). xs = [3, 5, 9]: pred(9) = 2*5 - 3 = 7, residual 2 —
    decode of warmup [3,5] + residual [2] must give 9."""
    enc = _Enc()

    def f(w):
        enc.frame_header(w, 3, 0, 0)
        w.w(0, 1)
        w.w(8 + 2, 6)
        w.w(0, 1)
        w.ws(3, 16)
        w.ws(5, 16)
        _rice_write(w, [2], 2, 0, 2)

    data = enc.stream([enc.frame(f)], 1, 3)
    assert decode_flac_bytes(data)[3][0] == [3, 5, 9]


def test_lpc_roundtrip_with_shift():
    enc = _Enc()
    import random

    rng = random.Random(3)
    xs = [0, 10]
    # generate from the exact inverse of the decoder's LPC so
    # residuals stay small: x[i] = ((3*x[i-1] - x[i-2]) >> 1) + e
    for _ in range(30):
        acc = 3 * xs[-1] - 1 * xs[-2]
        xs.append((acc >> 1) + rng.randint(-5, 5))

    def f(w):
        enc.frame_header(w, 32, 0, 0)
        enc.lpc_sub(w, xs, [3, -1], shift=1, prec=5, bps=16)

    data = enc.stream([enc.frame(f)], 1, 32)
    assert decode_flac_bytes(data)[3][0] == xs


def test_rice_partitions_and_escape():
    enc = _Enc()
    xs = list(range(-16, 16))  # order 0 fixed, 2 partitions

    def f(w):
        enc.frame_header(w, 32, 0, 0)
        w.w(0, 1)
        w.w(8, 6)  # fixed order 0
        w.w(0, 1)
        _rice_write(w, xs, 5, 1, 0)  # porder=1 -> 2 partitions

    def g(w):
        enc.frame_header(w, 32, 0, 1)
        w.w(0, 1)
        w.w(8, 6)
        w.w(0, 1)
        _rice_escape_write(w, xs, 8, 0)  # escape: raw 8-bit

    data = enc.stream([enc.frame(f), enc.frame(g)], 1, 64)
    assert decode_flac_bytes(data)[3][0] == xs + xs


def test_wasted_bits():
    enc = _Enc()
    xs = [x << 3 for x in (-100, 5, 77, -8, 0, 1, -1, 64)]

    def f(w):
        enc.frame_header(w, 8, 0, 0)
        enc.verbatim_sub(w, xs, 16, wasted=3)

    data = enc.stream([enc.frame(f)], 1, 8)
    assert decode_flac_bytes(data)[3][0] == xs


def test_stereo_channel_assignments():
    enc = _Enc()
    import random

    rng = random.Random(11)
    left = [rng.randint(-3000, 3000) for _ in range(16)]
    right = [l - rng.randint(-50, 50) for l in left]
    side = [l - r for l, r in zip(left, right)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]

    def independent(w):
        enc.frame_header(w, 16, 1, 0)  # 2 channels, code 1
        enc.verbatim_sub(w, left, 16)
        enc.verbatim_sub(w, right, 16)

    def left_side(w):
        enc.frame_header(w, 16, 8, 1)
        enc.verbatim_sub(w, left, 16)
        enc.verbatim_sub(w, side, 17)  # side gets +1 bit

    def right_side(w):
        enc.frame_header(w, 16, 9, 2)
        enc.verbatim_sub(w, side, 17)
        enc.verbatim_sub(w, right, 16)

    def mid_side(w):
        enc.frame_header(w, 16, 10, 3)
        enc.verbatim_sub(w, mid, 16)
        enc.verbatim_sub(w, side, 17)

    data = enc.stream(
        [
            enc.frame(independent),
            enc.frame(left_side),
            enc.frame(right_side),
            enc.frame(mid_side),
        ],
        2,
        64,
    )
    rate, ch, bps, chans = decode_flac_bytes(data)
    assert ch == 2
    assert chans[0] == left * 4
    assert chans[1] == right * 4


def test_rejects_non_flac():
    with pytest.raises(ValueError):
        decode_flac_bytes(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):
        decode_flac_bytes(b"fLaC")  # truncated: no STREAMINFO
