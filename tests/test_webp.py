"""WebP lossless decoder (pipeline/webp.py) vs an in-test VP8L
ENCODER: exact pixels across literal/LZ77/color-cache coding, all
four transforms, meta-prefix groups, and the RIFF container. The
encoder builds real canonical prefix codes (complete trees, RLE'd
code-length emission with the 16/17/18 repeat codes) so both entropy
directions are exercised."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from openset_spark.pipeline.webp import (
    CODE_LENGTH_ORDER,
    decode_webp_bytes,
)


# ------------------------------------------------- bit writer
class W:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, v: int, n: int):
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc, self.n = 0, 0
        return bytes(self.out)


# ------------------------------------------------- canonical codes
def _complete_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Complete canonical code over the used symbols: k symbols get
    lengths L-1/L (m = 2^L - k short slots, Kraft-exact), most
    frequent symbols take the short lengths."""
    used = sorted(freqs, key=lambda s: (-freqs[s], s))
    k = len(used)
    if k == 1:
        return {used[0]: 1}
    L = (k - 1).bit_length()
    m = (1 << L) - k
    out = {}
    for i, s in enumerate(used):
        out[s] = L - 1 if i < m else L
    return out


def _canon_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Same assignment rule as the decoder: sorted (len, sym)."""
    out = {}
    code = 0
    prev = 0
    for ln, sym in sorted((ln, s) for s, ln in lengths.items()):
        code <<= ln - prev
        prev = ln
        out[sym] = (ln, code)
        code += 1
    return out


def _emit(w: W, codes: dict[int, tuple[int, int]], sym: int):
    ln, code = codes[sym]
    for i in range(ln - 1, -1, -1):
        w.put((code >> i) & 1, 1)


class _Code:
    """One prefix code: knows how to write its own header and emit
    symbols."""

    def __init__(self, freqs: dict[int, int], num_symbols: int):
        if not freqs:
            freqs = {0: 1}
        self.num_symbols = num_symbols
        self.lengths = _complete_lengths(freqs)
        self.codes = _canon_codes(self.lengths)
        # the simple-code header carries symbols as <=8-bit values
        self.single = (
            list(freqs) if len(freqs) <= 2 and max(freqs) <= 255 else None
        )

    def write_header(self, w: W):
        if self.single is not None:
            syms = sorted(self.single)
            w.put(1, 1)  # simple code
            w.put(len(syms) - 1, 1)
            if len(syms) == 1:
                if syms[0] <= 1:
                    w.put(0, 1)
                    w.put(syms[0], 1)
                else:
                    w.put(1, 1)
                    w.put(syms[0], 8)
                self.codes = {syms[0]: (0, 0)}
            else:
                w.put(1, 1)
                w.put(syms[0], 8)
                w.put(syms[1], 8)
                self.codes = {syms[0]: (1, 0), syms[1]: (1, 1)}
            return
        w.put(0, 1)  # normal code
        # full-length vector with RLE (16/17/18) emission
        vec = [self.lengths.get(s, 0) for s in range(self.num_symbols)]
        ops = []  # (cl_symbol, extra_value, extra_bits)
        i = 0
        prev_nz = 8
        while i < len(vec):
            v = vec[i]
            run = 1
            while i + run < len(vec) and vec[i + run] == v:
                run += 1
            if v == 0:
                while run >= 11:
                    take = min(run, 138)
                    ops.append((18, take - 11, 7))
                    run -= take
                    i += take
                while run >= 3:
                    take = min(run, 10)
                    ops.append((17, take - 3, 3))
                    run -= take
                    i += take
                for _ in range(run):
                    ops.append((0, 0, 0))
                    i += 1
                continue
            # nonzero: emit one literal, then 16-repeats if possible
            ops.append((v, 0, 0))
            i += 1
            run -= 1
            prev_nz = v
            while run >= 3:
                take = min(run, 6)
                ops.append((16, take - 3, 2))
                run -= take
                i += take
            for _ in range(run):
                ops.append((v, 0, 0))
                i += 1
        cl_freq: dict[int, int] = {}
        for s, _, _ in ops:
            cl_freq[s] = cl_freq.get(s, 0) + 1
        cl_lengths = _complete_lengths(cl_freq)
        assert max(cl_lengths.values()) <= 7
        # find how many order slots we must write
        need = max(CODE_LENGTH_ORDER.index(s) for s in cl_lengths) + 1
        num_codes = max(4, need)
        w.put(num_codes - 4, 4)
        for i2 in range(num_codes):
            w.put(cl_lengths.get(CODE_LENGTH_ORDER[i2], 0), 3)
        w.put(0, 1)  # no max-symbol shortcut
        cl_codes = _canon_codes(cl_lengths)
        if len(cl_lengths) == 1:
            # decoder-side single-symbol codes read ZERO bits
            cl_codes = {next(iter(cl_lengths)): (0, 0)}
        for s, extra, ebits in ops:
            _emit(w, cl_codes, s)
            if ebits:
                w.put(extra, ebits)
        _ = prev_nz
        if len(self.lengths) == 1:
            self.codes = {next(iter(self.lengths)): (0, 0)}

    def emit(self, w: W, sym: int):
        _emit(w, self.codes, sym)


def _prefix_encode(v: int) -> tuple[int, int, int]:
    if v <= 4:
        return v - 1, 0, 0
    for code in range(4, 40):
        extra = (code - 2) >> 1
        offset = (2 + (code & 1)) << extra
        if offset + 1 <= v <= offset + (1 << extra):
            return code, v - offset - 1, extra
    raise ValueError(v)


_HASH = 0x1E35A7BD


def _tokenize(px: list[int], width: int, cache_bits: int, use_lz77: bool,
              map_dist: bool):
    """Pixel stream -> (tokens, per-alphabet frequency dicts)."""
    cache = [None] * (1 << cache_bits) if cache_bits else None
    toks = []
    n = len(px)
    i = 0
    ref_alt = 0
    while i < n:
        p = px[i]
        if use_lz77 and i > 0 and p == px[i - 1]:
            ln = 0
            while i + ln < n and px[i + ln] == px[i - 1 + ln]:
                ln += 1
            # alternate between the 2D map code for dist=1 ((1,0) is
            # code index 2 -> dcode 2) and the raw dist+120 coding
            ref_alt += 1
            dcode = 2 if (map_dist and ref_alt % 2 == 0) else 121
            toks.append(("ref", ln, dcode))
            if cache is not None:
                for k in range(ln):
                    v = px[i - 1 + k]
                    cache[(_HASH * v & 0xFFFFFFFF) >> (32 - cache_bits)] = v
            i += ln
            continue
        if cache is not None:
            slot = (_HASH * p & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[slot] == p:
                toks.append(("cache", slot))
                i += 1
                continue
            cache[slot] = p
        toks.append(("lit", p))
        i += 1

    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for t in toks:
        if t[0] == "lit":
            p = t[1]
            bump(gf, (p >> 8) & 0xFF)
            bump(rf, (p >> 16) & 0xFF)
            bump(bf, p & 0xFF)
            bump(af, (p >> 24) & 0xFF)
        elif t[0] == "ref":
            code, _, _ = _prefix_encode(t[1])
            bump(gf, 256 + code)
            dc, _, _ = _prefix_encode(t[2])
            bump(df, dc)
        else:
            bump(gf, 256 + 24 + t[1])
    return toks, (gf, rf, bf, af, df)


def _write_pixel_stream(w: W, px: list[int], width: int, cache_bits: int,
                        use_lz77: bool, map_dist: bool,
                        group_of=None, n_groups: int = 1):
    """``group_of(x, y)`` selects the prefix-code group per token
    start position (meta-prefix); default single group."""
    toks, _ = _tokenize(px, width, cache_bits, use_lz77, map_dist)
    # token start positions for group routing
    pos = 0
    placed = []
    for t in toks:
        placed.append((t, pos))
        pos += t[1] if t[0] == "ref" else 1

    def grp(p):
        return group_of(p % width, p // width) if group_of else 0

    freqs = [
        ({}, {}, {}, {}, {}) for _ in range(n_groups)
    ]

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for t, p in placed:
        gf, rf, bf, af, df = freqs[grp(p)]
        if t[0] == "lit":
            v = t[1]
            bump(gf, (v >> 8) & 0xFF)
            bump(rf, (v >> 16) & 0xFF)
            bump(bf, v & 0xFF)
            bump(af, (v >> 24) & 0xFF)
        elif t[0] == "ref":
            code, _, _ = _prefix_encode(t[1])
            bump(gf, 256 + code)
            dc, _, _ = _prefix_encode(t[2])
            bump(df, dc)
        else:
            bump(gf, 256 + 24 + t[1])

    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for gf, rf, bf, af, df in freqs:
        groups.append((
            _Code(gf, 256 + 24 + cache_size),
            _Code(rf, 256),
            _Code(bf, 256),
            _Code(af, 256),
            _Code(df, 40),
        ))
    for g in groups:
        for c in g:
            c.write_header(w)
    for t, p in placed:
        green, red, blue, alpha, dist = groups[grp(p)]
        if t[0] == "lit":
            v = t[1]
            green.emit(w, (v >> 8) & 0xFF)
            red.emit(w, (v >> 16) & 0xFF)
            blue.emit(w, v & 0xFF)
            alpha.emit(w, (v >> 24) & 0xFF)
        elif t[0] == "ref":
            code, extra, ebits = _prefix_encode(t[1])
            green.emit(w, 256 + code)
            if ebits:
                w.put(extra, ebits)
            dc, dextra, debits = _prefix_encode(t[2])
            dist.emit(w, dc)
            if debits:
                w.put(dextra, debits)
        else:
            green.emit(w, 256 + 24 + t[1])


def _write_image_stream(w: W, px: list[int], width: int, cache_bits: int = 0,
                        use_lz77: bool = True, map_dist: bool = False):
    """An entropy-coded image (sub-image or main): cache flag +
    single prefix group + pixels. Meta-prefix flag is written by the
    MAIN caller only."""
    if cache_bits:
        w.put(1, 1)
        w.put(cache_bits, 4)
    else:
        w.put(0, 1)
    _write_pixel_stream(w, px, width, cache_bits, use_lz77, map_dist)


# ------------------------------------------------- forward transforms
def _sub_green_fwd(px):
    out = []
    for p in px:
        g = (p >> 8) & 0xFF
        r = ((p >> 16) - g) & 0xFF
        b = (p - g) & 0xFF
        out.append((p & 0xFF00FF00) | (r << 16) | b)
    return out


def _sub_px(a, b):
    return (
        ((((a >> 24) - (b >> 24)) & 0xFF) << 24)
        | ((((a >> 16) - (b >> 16)) & 0xFF) << 16)
        | ((((a >> 8) - (b >> 8)) & 0xFF) << 8)
        | (((a - b) & 0xFF))
    )


def _predictor_fwd(px, w_, h, modes, bits):
    from openset_spark.pipeline.webp import _div_round_up, _predict

    tiles_x = _div_round_up(w_, 1 << bits)
    out = []
    for y in range(h):
        for x in range(w_):
            i = y * w_ + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - w_]
            else:
                mode = modes[(y >> bits) * tiles_x + (x >> bits)]
                l = px[i - 1]  # noqa: E741
                t = px[i - w_]
                tl = px[i - w_ - 1]
                tr = px[i - w_ + 1] if x + 1 < w_ else px[(y - 1) * w_]
                pred = _predict(mode, l, t, tr, tl)
            out.append(_sub_px(px[i], pred))
    return out


def _color_fwd(px, w_, h, tiles, bits):
    from openset_spark.pipeline.webp import _ctdelta, _div_round_up

    tiles_x = _div_round_up(w_, 1 << bits)
    out = []
    for y in range(h):
        for x in range(w_):
            i = y * w_ + x
            t = tiles[(y >> bits) * tiles_x + (x >> bits)]
            g2r, g2b, r2b = (t >> 16) & 0xFF, (t >> 8) & 0xFF, t & 0xFF
            p = px[i]
            green = (p >> 8) & 0xFF
            red = (p >> 16) & 0xFF
            blue = p & 0xFF
            nr = (red - _ctdelta(g2r, green)) & 0xFF
            # the decoder adds the r2b delta of the RECONSTRUCTED
            # (original) red, so the forward side must subtract the
            # delta of the ORIGINAL red, not the transformed one
            nb = (blue - _ctdelta(g2b, green) - _ctdelta(r2b, red)) & 0xFF
            out.append((p & 0xFF00FF00) | (nr << 16) | nb)
    return out


def encode_vp8l(
    width: int,
    height: int,
    px: list[int],
    cache_bits: int = 0,
    use_lz77: bool = True,
    map_dist: bool = False,
    subtract_green: bool = False,
    predictor: tuple[list[int], int] | None = None,  # (tile modes, bits)
    color: tuple[list[int], int] | None = None,  # (tile deltas, bits)
    palette: list[int] | None = None,
    meta: tuple[list[int], int] | None = None,  # (tile group map, bits)
    alpha_hint: bool = False,
) -> bytes:
    from openset_spark.pipeline.webp import _div_round_up

    w = W()
    w.put(0x2F, 8)
    w.put(width - 1, 14)
    w.put(height - 1, 14)
    w.put(1 if alpha_hint else 0, 1)
    w.put(0, 3)

    data = list(px)
    xsize = width

    if palette is not None:
        n = len(palette)
        lut = {p: i for i, p in enumerate(palette)}
        idx = [lut[p] for p in data]
        if n > 16:
            per_byte = 1
        elif n > 4:
            per_byte = 2
        elif n > 2:
            per_byte = 4
        else:
            per_byte = 8
        bpp = 8 // per_byte
        packed_w = _div_round_up(width, per_byte)
        packed = []
        for y in range(height):
            for bx in range(packed_w):
                bundle = 0
                for k in range(per_byte):
                    x = bx * per_byte + k
                    if x < width:
                        bundle |= idx[y * width + x] << (bpp * k)
                packed.append(0xFF000000 | (bundle << 8))
        w.put(1, 1)
        w.put(3, 2)  # color-indexing transform
        w.put(n - 1, 8)
        deltas = []
        prev = 0
        for p in palette:
            deltas.append(_sub_px(p, prev))
            prev = p
        _write_image_stream(w, deltas, n, use_lz77=False)
        data = packed
        xsize = packed_w

    if subtract_green:
        w.put(1, 1)
        w.put(2, 2)
        data = _sub_green_fwd(data)

    if color is not None:
        tiles, bits = color
        w.put(1, 1)
        w.put(1, 2)
        w.put(bits - 2, 3)
        tw = _div_round_up(xsize, 1 << bits)
        th = _div_round_up(height, 1 << bits)
        assert len(tiles) == tw * th
        data = _color_fwd(data, xsize, height, tiles, bits)
        _write_image_stream(w, tiles, tw, use_lz77=False)

    if predictor is not None:
        modes, bits = predictor
        w.put(1, 1)
        w.put(0, 2)
        w.put(bits - 2, 3)
        tw = _div_round_up(xsize, 1 << bits)
        th = _div_round_up(height, 1 << bits)
        assert len(modes) == tw * th
        data = _predictor_fwd(data, xsize, height, modes, bits)
        _write_image_stream(
            w, [0xFF000000 | (m << 8) for m in modes], tw, use_lz77=False
        )

    w.put(0, 1)  # end of transforms
    if cache_bits:
        w.put(1, 1)
        w.put(cache_bits, 4)
    else:
        w.put(0, 1)
    if meta is not None:
        tile_map, mbits = meta
        tw = _div_round_up(xsize, 1 << mbits)
        th = _div_round_up(height, 1 << mbits)
        assert len(tile_map) == tw * th
        n_groups = max(tile_map) + 1
        w.put(1, 1)  # meta-prefix present
        w.put(mbits - 2, 3)
        _write_image_stream(
            w, [0xFF000000 | ((g & 0xFF) << 8) for g in tile_map], tw,
            use_lz77=False,
        )

        def group_of(x, y):
            return tile_map[(y >> mbits) * tw + (x >> mbits)]

        _write_pixel_stream(
            w, data, xsize, cache_bits, use_lz77, map_dist,
            group_of=group_of, n_groups=n_groups,
        )
    else:
        w.put(0, 1)  # no meta-prefix
        _write_pixel_stream(w, data, xsize, cache_bits, use_lz77, map_dist)
    return w.flush()


def wrap_webp(vp8l: bytes) -> bytes:
    body = vp8l + (b"\x00" if len(vp8l) & 1 else b"")
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# ------------------------------------------------- tests
def _rand_px(rng, n, colors=None, opaque=True):
    if colors is not None:
        return [colors[int(i)] for i in rng.integers(0, len(colors), size=n)]
    out = []
    for _ in range(n):
        a = 255 if opaque else int(rng.integers(0, 256))
        r, g, b = (int(v) for v in rng.integers(0, 256, size=3))
        out.append((a << 24) | (r << 16) | (g << 8) | b)
    return out


def _check(width, height, px, **kw):
    data = wrap_webp(encode_vp8l(width, height, px, **kw))
    w, h, ch, raw = decode_webp_bytes(data)
    assert (w, h) == (width, height)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, ch)
    exp = np.zeros((height, width, 4), dtype=np.uint8)
    for i, p in enumerate(px):
        y, x = divmod(i, width)
        exp[y, x] = ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, (p >> 24) & 0xFF)
    if ch == 3:
        assert np.all(exp[:, :, 3] == 255)
        np.testing.assert_array_equal(got, exp[:, :, :3])
    else:
        np.testing.assert_array_equal(got, exp)
    return data


def test_vp8l_literals_only():
    rng = np.random.default_rng(21)
    _check(7, 5, _rand_px(rng, 35), use_lz77=False)


def test_vp8l_lz77_runs_both_distance_codings():
    rng = np.random.default_rng(22)
    colors = _rand_px(rng, 4)
    # long runs -> dist=1 backrefs; alternate raw dist+120 and the
    # 2D neighborhood code for the same offset
    px = []
    while len(px) < 24 * 10:
        px.extend([colors[int(rng.integers(0, 4))]] * int(rng.integers(1, 17)))
    px = px[: 24 * 10]
    _check(24, 10, px, use_lz77=True, map_dist=True)


def test_vp8l_color_cache():
    rng = np.random.default_rng(23)
    colors = _rand_px(rng, 12)
    px = [colors[int(i)] for i in rng.integers(0, 12, size=18 * 9)]
    _check(18, 9, px, cache_bits=6, use_lz77=False)


def test_vp8l_subtract_green():
    rng = np.random.default_rng(24)
    _check(9, 8, _rand_px(rng, 72), subtract_green=True, use_lz77=False)


def test_vp8l_predictor_all_modes():
    rng = np.random.default_rng(25)
    from openset_spark.pipeline.webp import _div_round_up

    w, h, bits = 33, 21, 2  # 4x4 tiles -> 9x6 tile grid
    tw, th = _div_round_up(w, 1 << bits), _div_round_up(h, 1 << bits)
    # every predictor mode appears across the tile grid
    modes = [(i % 14) for i in range(tw * th)]
    px = _rand_px(rng, w * h)
    _check(w, h, px, predictor=(modes, bits), use_lz77=False)


def test_vp8l_color_transform():
    rng = np.random.default_rng(26)
    from openset_spark.pipeline.webp import _div_round_up

    w, h, bits = 17, 11, 3
    tw, th = _div_round_up(w, 1 << bits), _div_round_up(h, 1 << bits)
    tiles = [
        0xFF000000
        | (int(rng.integers(0, 256)) << 16)
        | (int(rng.integers(0, 256)) << 8)
        | int(rng.integers(0, 256))
        for _ in range(tw * th)
    ]
    _check(w, h, _rand_px(rng, w * h), color=(tiles, bits), use_lz77=False)


@pytest.mark.parametrize("ncolors,per_byte", [(2, 8), (4, 4), (11, 2), (40, 1)])
def test_vp8l_color_indexing_bundles(ncolors, per_byte):
    rng = np.random.default_rng(27 + ncolors)
    colors = _rand_px(rng, ncolors)
    w, h = 21, 6  # width not a multiple of the bundle -> edge bundle
    px = [colors[int(i)] for i in rng.integers(0, ncolors, size=w * h)]
    _check(w, h, px, palette=colors, use_lz77=False)


def test_vp8l_alpha_and_combined_transforms():
    rng = np.random.default_rng(31)
    from openset_spark.pipeline.webp import _div_round_up

    w, h, bits = 19, 13, 2
    tw, th = _div_round_up(w, 1 << bits), _div_round_up(h, 1 << bits)
    modes = [int(m) for m in rng.integers(0, 14, size=tw * th)]
    px = _rand_px(rng, w * h, opaque=False)
    data = _check(
        w, h, px,
        subtract_green=True,
        predictor=(modes, bits),
        cache_bits=5,
        use_lz77=True,
    )
    # the decoded channel count is 4 (real alpha present)
    assert decode_webp_bytes(data)[2] == 4


def test_webp_container_and_invalid_payloads():
    rng = np.random.default_rng(32)
    data = wrap_webp(encode_vp8l(3, 3, _rand_px(rng, 9), use_lz77=False))
    w, h, ch, _ = decode_webp_bytes(data)
    assert (w, h, ch) == (3, 3, 3)
    with pytest.raises(ValueError):
        decode_webp_bytes(b"RIFF\x00\x00\x00\x00NOPE")
    # a truncated lossy chunk must fail loudly, not decode garbage
    lossy = (
        b"RIFF" + struct.pack("<I", 12) + b"WEBP"
        + b"VP8 " + struct.pack("<I", 0)
    )
    with pytest.raises(Exception):
        decode_webp_bytes(lossy)


# ------------------------------------------------- lossy + extended
def _chunk(cid: bytes, body: bytes) -> bytes:
    return (
        cid + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) & 1 else b"")
    )


def _container(*chunks: bytes) -> bytes:
    payload = b"".join(chunks)
    return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload


def _le24(v: int) -> bytes:
    return bytes([v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF])


def _vp8x(w: int, h: int, flags: int = 0) -> bytes:
    return _chunk(
        b"VP8X", bytes([flags, 0, 0, 0]) + _le24(w - 1) + _le24(h - 1)
    )


def _lossy_frame(w: int, h: int, seed: int = 5) -> bytes:
    from test_vp8 import VP8Encoder
    from test_vp8_frame import _rand_mb

    rng = np.random.default_rng(seed)
    enc = VP8Encoder(w, h, q_index=45)
    return enc.encode(
        [_rand_mb(rng) for _ in range(enc.mb_w * enc.mb_h)]
    )


def test_webp_lossy_vp8_simple_container():
    from openset_spark.pipeline.vp8 import decode_vp8_frame, vp8_to_rgb

    frame = _lossy_frame(24, 20)
    w, h, ch, px = decode_webp_bytes(_container(_chunk(b"VP8 ", frame)))
    assert (w, h, ch) == (24, 20, 3)
    fw, fh, y, u, v = decode_vp8_frame(frame)
    assert px == vp8_to_rgb(fw, fh, y, u, v)


@pytest.mark.parametrize("filt", [0, 1, 2, 3])
def test_webp_vp8x_alph_raw_filters(filt):
    # VP8X container, raw (uncompressed) alpha under each prediction
    # filter, fused onto the lossy RGB as a 4th channel
    rng = np.random.default_rng(40 + filt)
    W_, H_ = 18, 10
    frame = _lossy_frame(W_, H_, seed=41)
    alpha = [int(v) for v in rng.integers(0, 256, W_ * H_)]
    # forward-filter so the decoder's unfilter reproduces `alpha`
    residual = bytearray(W_ * H_)
    for yy in range(H_):
        for xx in range(W_):
            i = yy * W_ + xx
            if filt == 0:
                pred = 0
            elif yy == 0:
                pred = 0 if xx == 0 else alpha[i - 1]
            elif filt == 1:
                pred = alpha[i - W_] if xx == 0 else alpha[i - 1]
            elif filt == 2:
                pred = alpha[i - W_]
            else:
                if xx == 0:
                    pred = alpha[i - W_]
                else:
                    g = (
                        alpha[i - 1] + alpha[i - W_] - alpha[i - W_ - 1]
                    )
                    pred = min(255, max(0, g))
            residual[i] = (alpha[i] - pred) & 0xFF
    alph = bytes([filt << 2]) + bytes(residual)
    data = _container(
        _vp8x(W_, H_, flags=0x10),
        _chunk(b"ALPH", alph),
        _chunk(b"VP8 ", frame),
    )
    w, h, ch, px = decode_webp_bytes(data)
    assert (w, h, ch) == (W_, H_, 4)
    assert [px[i * 4 + 3] for i in range(W_ * H_)] == alpha


def test_webp_vp8x_alph_lossless_compressed():
    # compression=1: header-less VP8L stream with alpha in the green
    # channel
    rng = np.random.default_rng(55)
    W_, H_ = 21, 9
    frame = _lossy_frame(W_, H_, seed=56)
    alpha = [int(v) for v in rng.integers(0, 256, W_ * H_)]
    wtr = W()
    wtr.put(0, 1)  # no transforms
    wtr.put(0, 1)  # no color cache
    wtr.put(0, 1)  # no meta-prefix
    _write_pixel_stream(
        wtr,
        [0xFF000000 | (a << 8) for a in alpha],
        W_,
        0,
        True,
        False,
    )
    alph = bytes([0x01]) + wtr.flush()
    data = _container(
        _vp8x(W_, H_, flags=0x10),
        _chunk(b"ALPH", alph),
        _chunk(b"VP8 ", frame),
    )
    w, h, ch, px = decode_webp_bytes(data)
    assert (w, h, ch) == (W_, H_, 4)
    assert [px[i * 4 + 3] for i in range(W_ * H_)] == alpha


def test_webp_vp8x_lossless_passthrough():
    # VP8X wrapping a VP8L still: the walk skips the header chunk
    rng = np.random.default_rng(60)
    px_in = _rand_px(rng, 5 * 4)
    data = _container(
        _vp8x(5, 4),
        _chunk(b"VP8L", encode_vp8l(5, 4, px_in, use_lz77=False)),
    )
    w, h, ch, out = decode_webp_bytes(data)
    ref = decode_webp_bytes(
        wrap_webp(encode_vp8l(5, 4, px_in, use_lz77=False))
    )
    assert (w, h, ch, out) == ref


def test_webp_animation_first_frame():
    # ANMF payload holds the frame's own chunk list; the walk
    # descends past the 16-byte frame params to the first image
    rng = np.random.default_rng(65)
    px_in = _rand_px(rng, 6 * 3)
    vp8l = _chunk(b"VP8L", encode_vp8l(6, 3, px_in, use_lz77=False))
    anmf_body = (
        _le24(0) + _le24(0) + _le24(6 - 1) + _le24(3 - 1)
        + _le24(100) + bytes([0])
        + vp8l
    )
    data = _container(
        _vp8x(6, 3, flags=0x02),
        _chunk(b"ANIM", struct.pack("<IH", 0, 0)),
        _chunk(b"ANMF", anmf_body),
    )
    w, h, ch, out = decode_webp_bytes(data)
    ref = decode_webp_bytes(
        wrap_webp(encode_vp8l(6, 3, px_in, use_lz77=False))
    )
    assert (w, h, ch, out) == ref


def test_vp8l_fuzz():
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:  # pragma: no cover
        pytest.skip("hypothesis not installed")

    from openset_spark.pipeline.webp import _div_round_up

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 10**6),
        w=st.integers(1, 24),
        h=st.integers(1, 18),
        cache=st.sampled_from([0, 3, 7]),
        lz=st.booleans(),
        subg=st.booleans(),
        pred=st.booleans(),
        ncolors=st.sampled_from([0, 3, 9]),
    )
    def run(seed, w, h, cache, lz, subg, pred, ncolors):
        rng = np.random.default_rng(seed)
        kw = {"cache_bits": cache, "use_lz77": lz, "map_dist": lz,
              "subtract_green": subg}
        if ncolors and not pred:
            colors = _rand_px(rng, ncolors)
            # palette path: pixels drawn FROM the palette
            px = [colors[int(i)] for i in rng.integers(0, ncolors, size=w * h)]
            kw["palette"] = colors
            kw.pop("subtract_green")  # keep the packed stream intact
        else:
            px = _rand_px(rng, w * h, opaque=(seed % 2 == 0))
            if pred:
                bits = 2 + seed % 3
                tw = _div_round_up(w, 1 << bits)
                th = _div_round_up(h, 1 << bits)
                kw["predictor"] = (
                    [int(m) for m in rng.integers(0, 14, size=tw * th)],
                    bits,
                )
        _check(w, h, px, **kw)

    run()


def test_vp8l_meta_prefix_groups():
    """Two prefix-code groups routed by a meta-prefix tile image:
    left tiles use group 0, right tiles group 1 (with very different
    pixel statistics so distinct codes actually matter)."""
    from openset_spark.pipeline.webp import _div_round_up

    rng = np.random.default_rng(41)
    w, h, bits = 40, 12, 3  # 8px tiles -> 5x2 tile grid
    tw, th = _div_round_up(w, 1 << bits), _div_round_up(h, 1 << bits)
    tile_map = [0 if (t % tw) < tw // 2 else 1 for t in range(tw * th)]
    left_colors = _rand_px(rng, 3)
    px = []
    for y in range(h):
        for x in range(w):
            if (x >> bits) < tw // 2:
                px.append(left_colors[int(rng.integers(0, 3))])
            else:
                px.append(_rand_px(rng, 1)[0])
    _check(w, h, px, meta=(tile_map, bits), use_lz77=False)
    # and combined with a cache + lz77
    _check(w, h, px, meta=(tile_map, bits), cache_bits=4, use_lz77=True)
