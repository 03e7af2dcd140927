"""Pure-Python FLAC decoder (the free lossless audio codec,
https://xiph.org/flac/format.html — public spec, RFC 9639).

Scope mirrors the other lossless kernels in this repo (PNG, VP8L,
GIF): a spec-faithful decoder validated by EXACT sample round-trips
against an in-test encoder plus hand-computed predictor cases —
the bar the §2.8 codec frontier policy sets for "in scope". FLAC is
lossless, so unlike MP3/AAC (probe+route tier) correctness is
bit-decidable in-container.

Decoded here: STREAMINFO + metadata walk, frame headers (all block
size / sample rate / sample size codes, UTF-8 coded frame numbers),
subframes CONSTANT / VERBATIM / FIXED orders 0-4 / LPC orders 1-32,
wasted bits, Rice residuals (methods 0 and 1, partitioned, escape
code), and all four channel assignments (independent, left/side,
right/side, mid/side). CRCs are parsed but not enforced (the tests
construct valid streams; a production ingest would verify).

Reference parity: the reference engine ships audio decode behind its
media ingestion tier; this module is the pure-Python equivalent for
lossless audio. MP3/AAC are not decoded.
"""

from __future__ import annotations


class _Bits:
    """MSB-first bit reader."""

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.d = data
        self.p = pos_bits

    def read(self, n: int) -> int:
        v = 0
        p, d = self.p, self.d
        for _ in range(n):
            v = (v << 1) | ((d[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.p = p
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        if v >= 1 << (n - 1):
            v -= 1 << n
        return v

    def unary(self) -> int:
        n = 0
        while self.read(1) == 0:
            n += 1
        return n

    def align(self) -> None:
        self.p = (self.p + 7) & ~7


def _utf8_coded(bits: _Bits) -> int:
    """FLAC's UTF-8-style variable-length number (frame/sample no)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x80
    while b0 & mask:
        n += 1
        mask >>= 1
    v = b0 & (mask - 1)
    for _ in range(n - 1):
        v = (v << 6) | (bits.read(8) & 0x3F)
    return v


FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _rice_residual(bits: _Bits, n: int, order: int) -> list[int]:
    """Partitioned Rice residual for one subframe: ``n`` = block
    size, predictor ``order`` warm-up samples already consumed."""
    method = bits.read(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    plen = 4 + method  # rice parameter width
    porder = bits.read(4)
    nparts = 1 << porder
    if n % nparts:
        raise ValueError("block size not divisible by partition count")
    out: list[int] = []
    for pi in range(nparts):
        cnt = n // nparts - (order if pi == 0 else 0)
        param = bits.read(plen)
        if param == (1 << plen) - 1:  # escape: raw k-bit residuals
            k = bits.read(5)
            for _ in range(cnt):
                out.append(bits.read_signed(k) if k else 0)
        else:
            for _ in range(cnt):
                q = bits.unary()
                u = (q << param) | bits.read(param)
                # zigzag: even -> +u/2, odd -> -(u+1)/2
                out.append((u >> 1) ^ -(u & 1))
    return out


def _subframe(bits: _Bits, n: int, bps: int) -> list[int]:
    if bits.read(1):
        raise ValueError("subframe padding bit set")
    t = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = 1 + bits.unary()
    eff = bps - wasted
    if t == 0:  # CONSTANT
        v = bits.read_signed(eff)
        out = [v] * n
    elif t == 1:  # VERBATIM
        out = [bits.read_signed(eff) for _ in range(n)]
    elif 8 <= t <= 12:  # FIXED order 0-4
        order = t - 8
        warm = [bits.read_signed(eff) for _ in range(order)]
        res = _rice_residual(bits, n, order)
        out = list(warm)
        coefs = FIXED_COEFS[order]
        for i, e in enumerate(res):
            pred = sum(
                c * out[order + i - 1 - j] for j, c in enumerate(coefs)
            )
            out.append(e + pred)
    elif t >= 32:  # LPC, order = (t & 31) + 1
        order = (t & 31) + 1
        warm = [bits.read_signed(eff) for _ in range(order)]
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision escape")
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _rice_residual(bits, n, order)
        out = list(warm)
        for e in res:
            acc = 0
            m = len(out)
            for j, c in enumerate(coefs):
                acc += c * out[m - 1 - j]
            out.append(e + (acc >> shift))
    else:
        raise ValueError(f"reserved subframe type {t}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac_bytes(
    data: bytes,
) -> tuple[int, int, int, list[list[int]]]:
    """FLAC stream -> (sample_rate, channels, bits_per_sample,
    per-channel sample lists) — the `wav_samples` contract, so the
    audio feature path consumes either container unchanged."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    rate = channels = bps = None
    total = 0
    # metadata blocks
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        hdr = data[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            v = int.from_bytes(body[10:18], "big")
            rate = v >> 44
            channels = ((v >> 41) & 0x7) + 1
            bps = ((v >> 36) & 0x1F) + 1
            total = v & ((1 << 36) - 1)
        pos += 4 + blen
        if last:
            break
    if rate is None:
        raise ValueError("missing STREAMINFO")
    chans: list[list[int]] = [[] for _ in range(channels)]
    got = 0
    while pos < len(data) and (total == 0 or got < total):
        bits = _Bits(data, pos * 8)
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError(f"bad frame sync at byte {pos}")
        bits.read(1)  # reserved
        bits.read(1)  # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        sz_code = bits.read(3)
        bits.read(1)  # reserved
        _utf8_coded(bits)
        if bs_code == 6:
            n = bits.read(8) + 1
        elif bs_code == 7:
            n = bits.read(16) + 1
        elif bs_code in _BLOCKSIZES:
            n = _BLOCKSIZES[bs_code]
        else:
            raise ValueError(f"reserved block size code {bs_code}")
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("invalid sample rate code")
        fbps = _SIZES.get(sz_code, bps) if sz_code else bps
        bits.read(8)  # CRC-8 (not enforced)
        if ch_code < 8:
            nch = ch_code + 1
            if nch != channels:
                raise ValueError("frame/stream channel mismatch")
            subs = [_subframe(bits, n, fbps) for _ in range(nch)]
        elif ch_code == 8:  # left/side
            left = _subframe(bits, n, fbps)
            side = _subframe(bits, n, fbps + 1)
            subs = [left, [l - s for l, s in zip(left, side)]]
        elif ch_code == 9:  # right/side
            side = _subframe(bits, n, fbps + 1)
            right = _subframe(bits, n, fbps)
            subs = [[r + s for r, s in zip(right, side)], right]
        elif ch_code == 10:  # mid/side
            mid = _subframe(bits, n, fbps)
            side = _subframe(bits, n, fbps + 1)
            subs = [[], []]
            for m_, s_ in zip(mid, side):
                # mid carries (L+R)>>1; the side LSB restores parity
                l_ = ((m_ << 1) | (s_ & 1)) + s_
                subs[0].append(l_ >> 1)
                subs[1].append((l_ >> 1) - s_)
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        keep = n if total == 0 else min(n, total - got)
        for c in range(channels):
            chans[c].extend(subs[c][:keep])
        got += keep
        bits.align()
        pos = bits.p // 8 + 2  # skip frame CRC-16 (not enforced)
    return rate, channels, bps, chans
