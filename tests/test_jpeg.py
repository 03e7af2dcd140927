"""Baseline JPEG decoder (pipeline/jpeg.py) — exact-pixel verification.

Ground truth comes from an in-test minimal baseline ENCODER: quantized
coefficient blocks are chosen (seeded), entropy-coded into a valid
JFIF stream, and the expected pixels are reconstructed independently
in the test with plain numpy (dequantize, un-zigzag, direct cos-sum
IDCT, replication upsample, YCbCr conversion). The decoder must parse
the bitstream — huffman tables, byte stuffing, restart markers,
sampling factors — and land on the identical bytes.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from openset_spark.pipeline.jpeg import decode_jpeg_bytes

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# a deliberately non-flat quant table (catches zigzag/quant misalignment)
QTABLE = [(1 + (i * 7) % 23) for i in range(64)]  # values 1..23, varied


# ---------------------------------------------------------------- encoder
class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.put(1, 1)  # pad with 1s (T.81 F.1.2.3)


def _category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _amplitude(v: int, n: int) -> int:
    return v if v >= 0 else v + (1 << n) - 1


class _FixedTable:
    """All symbols at one code length L: canonical codes 0..k-1."""

    def __init__(self, symbols: list[int], length: int = 8):
        assert len(symbols) < (1 << length) - 1
        self.length = length
        self.index = {s: i for i, s in enumerate(symbols)}
        self.symbols = symbols

    def dht_payload(self, tc: int, th: int) -> bytes:
        counts = [0] * 16
        counts[self.length - 1] = len(self.symbols)
        return bytes([tc << 4 | th] + counts + self.symbols)

    def emit(self, w: _BitWriter, sym: int):
        w.put(self.index[sym], self.length)


def encode_baseline_jpeg(
    w: int,
    h: int,
    comp_blocks: list[dict],
    qtables: list[list[int]],
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """comp_blocks: per component {h, v, tq, blocks: {(bx,by): zz64}}.
    Every block is quantized coefficients in zig-zag order."""
    hmax = max(c["h"] for c in comp_blocks)
    vmax = max(c["v"] for c in comp_blocks)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    def traverse(on_dc, on_ac, on_bits, on_restart):
        """The ONE MCU-interleaved emission order (T.81 A.2.3), used
        for both symbol collection and encoding so DC prediction
        diffs agree between the passes."""
        preds = [0] * len(comp_blocks)
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    on_restart()
                    preds = [0] * len(comp_blocks)
                for ci, c in enumerate(comp_blocks):
                    for v in range(c["v"]):
                        for hh in range(c["h"]):
                            zz = c["blocks"][
                                (mx * c["h"] + hh, my * c["v"] + v)
                            ]
                            diff = zz[0] - preds[ci]
                            preds[ci] = zz[0]
                            t = _category(diff)
                            on_dc(t)
                            on_bits(_amplitude(diff, t), t)
                            run = 0
                            for k in range(1, 64):
                                if zz[k] == 0:
                                    run += 1
                                    continue
                                while run > 15:
                                    on_ac(0xF0)
                                    run -= 16
                                s = _category(zz[k])
                                on_ac((run << 4) | s)
                                on_bits(_amplitude(zz[k], s), s)
                                run = 0
                            if run:
                                on_ac(0x00)
                mcu_count += 1

    # pass 1: collect every DC size / AC symbol actually used
    dc_syms, ac_syms = set(), {0x00}
    traverse(dc_syms.add, ac_syms.add, lambda v, n: None, lambda: None)
    dc_tab = _FixedTable(sorted(dc_syms))
    ac_tab = _FixedTable(sorted(ac_syms))

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes):
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq, q in enumerate(qtables):
        if precision == 12:  # pq=1: 16-bit quantizer entries
            seg(0xDB, bytes([0x10 | tq]) + struct.pack(">64H", *q))
        else:
            seg(0xDB, bytes([tq]) + bytes(q))
    sof = (
        bytearray([precision])
        + struct.pack(">HH", h, w)
        + bytes([len(comp_blocks)])
    )
    for i, c in enumerate(comp_blocks):
        sof += bytes([i + 1, (c["h"] << 4) | c["v"], c["tq"]])
    seg(0xC0 if precision == 8 else 0xC1, bytes(sof))
    seg(0xC4, dc_tab.dht_payload(0, 0))
    seg(0xC4, ac_tab.dht_payload(1, 0))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(comp_blocks)])
    for i in range(len(comp_blocks)):
        sos += bytes([i + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))

    # pass 2: encode, with restart-marker segmentation
    state = {"bw": _BitWriter(), "rst": 0}

    def on_restart():
        state["bw"].flush()
        out.extend(state["bw"].out)
        out.extend(b"\xff" + bytes([0xD0 + (state["rst"] % 8)]))
        state["rst"] += 1
        state["bw"] = _BitWriter()

    traverse(
        lambda t: dc_tab.emit(state["bw"], t),
        lambda s: ac_tab.emit(state["bw"], s),
        lambda v, n: state["bw"].put(v, n),
        on_restart,
    )
    state["bw"].flush()
    out.extend(state["bw"].out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# ------------------------------------------------- independent reconstruction
def _idct_block(zz, q):
    """Direct cos-sum IDCT (formula transcription, independent of the
    decoder's matrix-sandwich implementation)."""
    coef = np.zeros((8, 8))
    for k, z in enumerate(zz):
        coef[ZIGZAG[k] // 8, ZIGZAG[k] % 8] = z * q[k]
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = s / 4.0 + 128.0
    return out


def _expected_pixels(w, h, comp_blocks, qtables):
    hmax = max(c["h"] for c in comp_blocks)
    vmax = max(c["v"] for c in comp_blocks)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comp_blocks:
        plane = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))
        for (bx, by), zz in c["blocks"].items():
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_block(
                zz, qtables[c["tq"]]
            )
        sy, sx = vmax // c["v"], hmax // c["h"]
        if sx > 1 or sy > 1:
            plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return np.clip(np.round(np.stack([r, g, b], -1)), 0, 255).astype(np.uint8)


def _rand_blocks(rng, nx, ny, dense=False):
    blocks = {}
    for by in range(ny):
        for bx in range(nx):
            zz = np.zeros(64, dtype=np.int64)
            zz[0] = rng.integers(-60, 60)
            n_ac = 40 if dense else rng.integers(0, 10)
            idx = rng.choice(np.arange(1, 64), size=n_ac, replace=False)
            zz[idx] = rng.integers(-30, 30, size=len(idx))
            blocks[(bx, by)] = zz.tolist()
    return blocks


def _roundtrip(w, h, comps, qtables, restart_interval=0):
    data = encode_baseline_jpeg(w, h, comps, qtables, restart_interval)
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert (gw, gh) == (w, h)
    got = np.frombuffer(px, dtype=np.uint8)
    exp = _expected_pixels(w, h, comps, qtables)
    assert ch == (1 if exp.ndim == 2 else exp.shape[2])
    np.testing.assert_array_equal(got.reshape(exp.shape), exp)
    return data


def test_gray_single_block():
    rng = np.random.default_rng(7)
    comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 1, 1, dense=True)}]
    _roundtrip(8, 8, comps, [QTABLE])


def test_gray_crop_non_multiple_of_8():
    rng = np.random.default_rng(11)
    comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 3, 2)}]
    _roundtrip(24, 13, comps, [QTABLE])


def test_color_444():
    rng = np.random.default_rng(13)
    q2 = [max(1, v // 2) for v in QTABLE]
    comps = [
        {"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 2, 1)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 1)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 1)},
    ]
    _roundtrip(16, 8, comps, [QTABLE, q2])


def test_color_420_with_crop():
    rng = np.random.default_rng(17)
    q2 = [max(1, v // 2) for v in QTABLE]
    comps = [
        {"h": 2, "v": 2, "tq": 0, "blocks": _rand_blocks(rng, 4, 2)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 1)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 1)},
    ]
    # 2 MCUs wide (32px) cropped to 20; 1 MCU high (16px) cropped to 10
    _roundtrip(20, 10, comps, [QTABLE, q2])


def test_color_422():
    rng = np.random.default_rng(19)
    comps = [
        {"h": 2, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 4, 1)},
        {"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 2, 1)},
        {"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 2, 1)},
    ]
    _roundtrip(32, 8, comps, [QTABLE])


def test_restart_markers_reset_dc_prediction():
    rng = np.random.default_rng(23)
    comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 6, 1)}]
    data = _roundtrip(48, 8, comps, [QTABLE], restart_interval=2)
    assert b"\xff\xd0" in data or b"\xff\xd1" in data  # markers present


def test_byte_stuffing_survives():
    # DC values chosen to force 0xFF bytes into the entropy stream at
    # some alignment; exactness of the round-trip proves unstuffing
    rng = np.random.default_rng(29)
    for seed in range(5):
        r = np.random.default_rng(seed)
        comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(r, 2, 2, dense=True)}]
        _roundtrip(16, 16, comps, [[1] * 64])


# ------------------------------------------------- progressive encoder
def encode_progressive_jpeg(
    w: int,
    h: int,
    comp_blocks: list[dict],
    qtables: list[list[int]],
    scans: list[tuple],
    restart_interval: int = 0,
) -> bytes:
    """Progressive (SOF2) encoder for decoder verification: full
    spectral selection + successive approximation per T.81 G.1.2,
    including EOB runs and refinement correction-bit buffering.
    ``scans``: list of (comp_index_list, Ss, Se, Ah, Al)."""
    hmax = max(c["h"] for c in comp_blocks)
    vmax = max(c["v"] for c in comp_blocks)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comp_blocks:
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        c["bw"] = (cw + 7) // 8
        c["bh"] = (ch + 7) // 8

    def units(idxs):
        if len(idxs) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    unit = []
                    for ci in idxs:
                        c = comp_blocks[ci]
                        for v in range(c["v"]):
                            for hh in range(c["h"]):
                                unit.append(
                                    (ci, mx * c["h"] + hh, my * c["v"] + v)
                                )
                    yield unit
        else:
            c = comp_blocks[idxs[0]]
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    yield [(idxs[0], bx, by)]

    def run_scan(idxs, ss, se, ah, al, emit_dc, emit_ac, put, on_restart):
        preds = {ci: 0 for ci in idxs}
        st = {"eobrun": 0, "bebits": []}

        def flush_eobrun():
            if st["eobrun"]:
                nbits = st["eobrun"].bit_length() - 1
                emit_ac(nbits << 4)
                if nbits:
                    put(st["eobrun"] & ((1 << nbits) - 1), nbits)
                st["eobrun"] = 0
            for b in st["bebits"]:
                put(b, 1)
            st["bebits"] = []

        for ui, unit in enumerate(units(idxs)):
            if restart_interval and ui and ui % restart_interval == 0:
                flush_eobrun()
                on_restart()
                preds = {ci: 0 for ci in idxs}
            for ci, bx, by in unit:
                zz = comp_blocks[ci]["blocks"][(bx, by)]
                if ss == 0:
                    if ah == 0:
                        v = zz[0] >> al  # DC point transform: arith shift
                        diff = v - preds[ci]
                        preds[ci] = v
                        t = _category(diff)
                        emit_dc(t)
                        put(_amplitude(diff, t), t)
                    else:
                        put((zz[0] >> al) & 1, 1)
                    continue
                band = [zz[k] for k in range(ss, se + 1)]
                if ah == 0:
                    # AC first: point transform truncates toward zero
                    vals = [
                        (1 if v > 0 else -1) * (abs(v) >> al) for v in band
                    ]
                    nz = [i for i, v in enumerate(vals) if v]
                    if not nz:
                        st["eobrun"] += 1
                        if st["eobrun"] == 0x7FFF:
                            flush_eobrun()
                        continue
                    flush_eobrun()
                    run = 0
                    for i in range(nz[-1] + 1):
                        v = vals[i]
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            emit_ac(0xF0)
                            run -= 16
                        s = _category(v)
                        emit_ac((run << 4) | s)
                        put(_amplitude(v, s), s)
                        run = 0
                    if nz[-1] < len(vals) - 1:
                        st["eobrun"] += 1
                        if st["eobrun"] == 0x7FFF:
                            flush_eobrun()
                    continue
                # AC refinement (T.81 G.1.2.3 encoder side)
                absv = [abs(v) >> al for v in band]
                eobpos = -1
                for i, a in enumerate(absv):
                    if a == 1:
                        eobpos = i  # last NEWLY-nonzero coefficient
                r, br = 0, []
                for i, a in enumerate(absv):
                    if a == 0:
                        r += 1
                        continue
                    while r > 15 and i <= eobpos:
                        flush_eobrun()
                        emit_ac(0xF0)
                        r -= 16
                        for b in br:
                            put(b, 1)
                        br = []
                    if a > 1:  # history-nonzero: one correction bit
                        br.append(a & 1)
                        continue
                    flush_eobrun()
                    emit_ac((r << 4) | 1)
                    put(1 if band[i] > 0 else 0, 1)
                    for b in br:
                        put(b, 1)
                    br, r = [], 0
                if r > 0 or br:
                    st["eobrun"] += 1
                    st["bebits"].extend(br)
                    if st["eobrun"] == 0x7FFF:
                        flush_eobrun()
        flush_eobrun()

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    for tq, q in enumerate(qtables):
        seg(0xDB, bytes([tq]) + bytes(q))
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([len(comp_blocks)])
    for i, c in enumerate(comp_blocks):
        sof += bytes([i + 1, (c["h"] << 4) | c["v"], c["tq"]])
    seg(0xC2, bytes(sof))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))

    for idxs, ss, se, ah, al in scans:
        # pass 1: symbols actually used by this scan
        dc_syms, ac_syms = set(), set()
        run_scan(idxs, ss, se, ah, al, dc_syms.add, ac_syms.add,
                 lambda v, n: None, lambda: None)
        dc_tab = _FixedTable(sorted(dc_syms)) if dc_syms else None
        ac_tab = _FixedTable(sorted(ac_syms)) if ac_syms else None
        if dc_tab:
            seg(0xC4, dc_tab.dht_payload(0, 0))
        if ac_tab:
            seg(0xC4, ac_tab.dht_payload(1, 0))
        sos = bytearray([len(idxs)])
        for ci in idxs:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, bytes(sos))
        # pass 2: entropy-coded data with restart segmentation
        state = {"bw": _BitWriter(), "rst": 0}

        def on_restart():
            state["bw"].flush()
            out.extend(state["bw"].out)
            out.extend(b"\xff" + bytes([0xD0 + (state["rst"] % 8)]))
            state["rst"] += 1
            state["bw"] = _BitWriter()

        run_scan(
            idxs, ss, se, ah, al,
            (lambda t: dc_tab.emit(state["bw"], t)) if dc_tab else None,
            (lambda s: ac_tab.emit(state["bw"], s)) if ac_tab else None,
            lambda v, n: state["bw"].put(v, n),
            on_restart,
        )
        state["bw"].flush()
        out.extend(state["bw"].out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _sa_ladder(ncomp, al=1, split=20):
    """A typical progressive scan script: interleaved DC with
    successive approximation, split AC bands, then full refinement."""
    allc = list(range(ncomp))
    scans = [(allc, 0, 0, 0, al)]
    for c in range(ncomp):
        scans += [([c], 1, split, 0, al), ([c], split + 1, 63, 0, al)]
    for lvl in range(al, 0, -1):
        scans.append((allc, 0, 0, lvl, lvl - 1))
        for c in range(ncomp):
            scans += [
                ([c], 1, split, lvl, lvl - 1),
                ([c], split + 1, 63, lvl, lvl - 1),
            ]
    return scans


def _prog_roundtrip(w, h, comps, qtables, scans, restart_interval=0):
    data = encode_progressive_jpeg(w, h, comps, qtables, scans, restart_interval)
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert (gw, gh) == (w, h)
    exp = _expected_pixels(w, h, comps, qtables)
    got = np.frombuffer(px, dtype=np.uint8)
    np.testing.assert_array_equal(got.reshape(exp.shape), exp)
    return data


def test_progressive_gray_spectral_only():
    rng = np.random.default_rng(41)
    comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 3, 2)}]
    scans = [([0], 0, 0, 0, 0), ([0], 1, 9, 0, 0), ([0], 10, 63, 0, 0)]
    _prog_roundtrip(24, 16, comps, [QTABLE], scans)


def test_progressive_color_successive_approximation():
    rng = np.random.default_rng(42)
    comps = [
        {"h": 2, "v": 2, "tq": 0, "blocks": _rand_blocks(rng, 4, 4, dense=True)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 2)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 2)},
    ]
    _prog_roundtrip(29, 27, comps, [QTABLE, [1] * 64], _sa_ladder(3, al=2))


def test_progressive_equals_baseline_decode():
    """The two entropy pipelines share only the IDCT back-end: the
    same quantized blocks through the baseline and progressive
    encoders must decode to IDENTICAL pixels."""
    rng = np.random.default_rng(43)
    comps = [
        {"h": 2, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 4, 2, dense=True)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 2)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks(rng, 2, 2)},
    ]
    base = encode_baseline_jpeg(30, 15, comps, [QTABLE, [1] * 64])
    prog = encode_progressive_jpeg(
        30, 15, comps, [QTABLE, [1] * 64], _sa_ladder(3)
    )
    assert decode_jpeg_bytes(base) == decode_jpeg_bytes(prog)


def test_progressive_with_restarts():
    rng = np.random.default_rng(44)
    comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 4, 3, dense=True)}]
    _prog_roundtrip(32, 24, comps, [QTABLE], _sa_ladder(1), restart_interval=2)


def test_unsupported_frames_rejected():
    # sequential arithmetic (SOF9) decodes for real since r8 — see
    # tests/test_jpeg_arith.py; lossless/hierarchical still reject
    rng = np.random.default_rng(31)
    comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 1, 1)}]
    data = bytearray(encode_baseline_jpeg(8, 8, comps, [QTABLE]))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC7  # SOF0 -> SOF7 (differential lossless)
    with pytest.raises(NotImplementedError):
        decode_jpeg_bytes(bytes(data))
    with pytest.raises(ValueError):
        decode_jpeg_bytes(b"nope")


def test_fuzz_roundtrip_random_configs():
    """Property fuzz across geometry, sampling, restart interval and
    coefficient density: decode(encode(blocks)) must equal the
    independent reconstruction exactly for every draw."""
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:  # pragma: no cover
        pytest.skip("hypothesis not installed")

    @settings(max_examples=12, deadline=None)
    @given(
        seed=st.integers(0, 10**6),
        sampling=st.sampled_from(
            [None, (1, 1), (2, 1), (1, 2), (2, 2)]  # None = grayscale
        ),
        mcux=st.integers(1, 2),
        mcuy=st.integers(1, 2),
        crop_x=st.integers(0, 7),
        crop_y=st.integers(0, 7),
        restart=st.sampled_from([0, 1, 2]),
        dense=st.booleans(),
    )
    def run(seed, sampling, mcux, mcuy, crop_x, crop_y, restart, dense):
        rng = np.random.default_rng(seed)
        if sampling is None:
            hmax = vmax = 1
            comps = [
                {"h": 1, "v": 1, "tq": 0,
                 "blocks": _rand_blocks(rng, mcux, mcuy, dense)}
            ]
        else:
            sh, sv = sampling
            hmax, vmax = sh, sv
            comps = [
                {"h": sh, "v": sv, "tq": 0,
                 "blocks": _rand_blocks(rng, mcux * sh, mcuy * sv, dense)},
                {"h": 1, "v": 1, "tq": 1,
                 "blocks": _rand_blocks(rng, mcux, mcuy, dense)},
                {"h": 1, "v": 1, "tq": 1,
                 "blocks": _rand_blocks(rng, mcux, mcuy, dense)},
            ]
        w = mcux * 8 * hmax - crop_x
        h = mcuy * 8 * vmax - crop_y
        _roundtrip(w, h, comps, [QTABLE, [1] * 64], restart_interval=restart)

    run()


def test_fuzz_progressive_random_scan_scripts():
    """Property fuzz for the progressive path: random geometry,
    sampling, restart interval, coefficient density, AC band split
    and successive-approximation depth — every draw must decode to
    the exact independent reconstruction."""
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:  # pragma: no cover
        pytest.skip("hypothesis not installed")

    @settings(max_examples=10, deadline=None)
    @given(
        seed=st.integers(0, 10**6),
        sampling=st.sampled_from([None, (1, 1), (2, 1), (2, 2)]),
        mcux=st.integers(1, 2),
        mcuy=st.integers(1, 2),
        crop_x=st.integers(0, 7),
        crop_y=st.integers(0, 7),
        restart=st.sampled_from([0, 2]),
        dense=st.booleans(),
        split=st.integers(1, 62),
        al=st.integers(0, 2),
    )
    def run(seed, sampling, mcux, mcuy, crop_x, crop_y, restart, dense, split, al):
        rng = np.random.default_rng(seed)
        if sampling is None:
            hmax = vmax = 1
            comps = [
                {"h": 1, "v": 1, "tq": 0,
                 "blocks": _rand_blocks(rng, mcux, mcuy, dense)}
            ]
        else:
            sh, sv = sampling
            hmax, vmax = sh, sv
            comps = [
                {"h": sh, "v": sv, "tq": 0,
                 "blocks": _rand_blocks(rng, mcux * sh, mcuy * sv, dense)},
                {"h": 1, "v": 1, "tq": 1,
                 "blocks": _rand_blocks(rng, mcux, mcuy, dense)},
                {"h": 1, "v": 1, "tq": 1,
                 "blocks": _rand_blocks(rng, mcux, mcuy, dense)},
            ]
        w = mcux * 8 * hmax - crop_x
        h = mcuy * 8 * vmax - crop_y
        scans = _sa_ladder(len(comps), al=al, split=split)
        _prog_roundtrip(
            w, h, comps, [QTABLE, [1] * 64], scans, restart_interval=restart
        )

    run()


# ------------------------------------------------- CMYK / APP14 (r8)
def _app14(transform: int) -> bytes:
    payload = b"Adobe" + struct.pack(">HHH", 100, 0, 0) + bytes([transform])
    return b"\xff\xee" + struct.pack(">H", len(payload) + 2) + payload


def _inject_app14(data: bytes, transform: int) -> bytes:
    i = data.index(b"\xff\xdb")  # before the first DQT
    return data[:i] + _app14(transform) + data[i:]


def _expected_cmyk(w, h, comp_blocks, qtables, transform):
    planes = []
    for c in comp_blocks:
        hmax = max(cc["h"] for cc in comp_blocks)
        vmax = max(cc["v"] for cc in comp_blocks)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        plane = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))
        for (bx, by), zz in c["blocks"].items():
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_block(
                zz, qtables[c["tq"]]
            )
        sy, sx = vmax // c["v"], hmax // c["h"]
        if sx > 1 or sy > 1:
            plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)
        planes.append(plane[:h, :w])
    c1, c2, c3, c4 = planes
    if transform == 2:
        r = c1 + 1.402 * (c3 - 128.0)
        g = c1 - 0.344136 * (c2 - 128.0) - 0.714136 * (c3 - 128.0)
        b = c1 + 1.772 * (c2 - 128.0)
        c1, c2, c3 = 255.0 - r, 255.0 - g, 255.0 - b
    out = np.stack([c1, c2, c3, c4], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("transform", [0, 2])
def test_cmyk_four_component(transform):
    rng = np.random.default_rng(61)
    comps = [
        {"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 2, 2)}
        for _ in range(4)
    ]
    data = _inject_app14(
        encode_baseline_jpeg(16, 16, comps, [QTABLE]), transform
    )
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert (gw, gh, ch) == (16, 16, 4)
    got = np.frombuffer(px, dtype=np.uint8).reshape(16, 16, 4)
    np.testing.assert_array_equal(
        got, _expected_cmyk(16, 16, comps, [QTABLE], transform)
    )


def test_cmyk_without_app14_is_raw():
    # no APP14 -> planes pass through untransformed
    rng = np.random.default_rng(67)
    comps = [
        {"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks(rng, 1, 1)}
        for _ in range(4)
    ]
    data = encode_baseline_jpeg(8, 8, comps, [QTABLE])
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert ch == 4
    got = np.frombuffer(px, dtype=np.uint8).reshape(8, 8, 4)
    np.testing.assert_array_equal(
        got, _expected_cmyk(8, 8, comps, [QTABLE], 0)
    )


# ------------------------------------------------- 12-bit precision (r8)
def _expected_pixels12(w, h, comp_blocks, qtables):
    """Decoder contract for precision 12: per-plane level shift 2048,
    clip [0,4095], HIGH byte; then the usual 1/3-component packing."""
    hmax = max(c["h"] for c in comp_blocks)
    vmax = max(c["v"] for c in comp_blocks)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comp_blocks:
        plane = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))
        for (bx, by), zz in c["blocks"].items():
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                _idct_block(zz, qtables[c["tq"]]) - 128.0 + 2048.0
            )
        sy, sx = vmax // c["v"], hmax // c["h"]
        if sx > 1 or sy > 1:
            plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)
        plane = plane[:h, :w]
        planes.append(np.floor(np.clip(np.round(plane), 0, 4095) / 16.0))
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return np.clip(np.round(np.stack([r, g, b], -1)), 0, 255).astype(np.uint8)


def _rand_blocks12(rng, nx, ny):
    blocks = {}
    for by in range(ny):
        for bx in range(nx):
            zz = np.zeros(64, dtype=np.int64)
            zz[0] = rng.integers(-800, 800)  # 12-bit DC range
            idx = rng.choice(np.arange(1, 64), size=12, replace=False)
            zz[idx] = rng.integers(-200, 200, size=len(idx))
            blocks[(bx, by)] = zz.tolist()
    return blocks


QTABLE12 = [(1 + (i * 11) % 401) for i in range(64)]  # 16-bit-range entries


def test_12bit_gray_huffman():
    rng = np.random.default_rng(71)
    comps = [{"h": 1, "v": 1, "tq": 0, "blocks": _rand_blocks12(rng, 2, 2)}]
    data = encode_baseline_jpeg(16, 16, comps, [QTABLE12], precision=12)
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert (gw, gh, ch) == (16, 16, 1)
    got = np.frombuffer(px, dtype=np.uint8).reshape(16, 16)
    np.testing.assert_array_equal(
        got, _expected_pixels12(16, 16, comps, [QTABLE12])
    )


def test_12bit_color_huffman():
    rng = np.random.default_rng(73)
    comps = [
        {"h": 2, "v": 1, "tq": 0, "blocks": _rand_blocks12(rng, 4, 2)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks12(rng, 2, 2)},
        {"h": 1, "v": 1, "tq": 1, "blocks": _rand_blocks12(rng, 2, 2)},
    ]
    data = encode_baseline_jpeg(
        30, 14, comps, [QTABLE12, QTABLE12], precision=12
    )
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert (gw, gh, ch) == (30, 14, 3)
    got = np.frombuffer(px, dtype=np.uint8).reshape(14, 30, 3)
    np.testing.assert_array_equal(
        got, _expected_pixels12(30, 14, comps, [QTABLE12, QTABLE12])
    )


# ------------------------------------------------- lossless SOF3 (r8)
def encode_lossless_jpeg(
    w, h, samples, precision=8, predictor=1, pt=0, restart_interval=0
):
    """samples: list of 2-D lists (one per component), values in
    [0, 2^precision - 1 >> pt] pre-point-transform (i.e. the values
    the DECODER will reconstruct before << Pt)."""
    ncomp = len(samples)

    def predict(plane, x, y, first):
        if first:
            return 1 << (precision - pt - 1)
        if y == 0:
            return plane[0][x - 1]
        if x == 0:
            return plane[y - 1][0]
        a, b, c = plane[y][x - 1], plane[y - 1][x], plane[y - 1][x - 1]
        return {
            1: a, 2: b, 3: c, 4: a + b - c,
            5: a + ((b - c) >> 1), 6: b + ((a - c) >> 1),
            7: (a + b) >> 1,
        }[predictor]

    def traverse(on_cat, on_bits, on_restart):
        count = 0
        restart_at = -1
        for y in range(h):
            for x in range(w):
                if (
                    restart_interval
                    and count
                    and count % restart_interval == 0
                ):
                    on_restart()
                    restart_at = count
                for ci in range(ncomp):
                    first = (y == 0 and x == 0) or count == restart_at
                    pred = predict(samples[ci], x, y, first)
                    raw = (samples[ci][y][x] - pred) & 0xFFFF
                    if raw == 32768:
                        on_cat(16)
                        continue
                    sdiff = raw if raw < 32768 else raw - 65536
                    t = _category(sdiff)
                    on_cat(t)
                    on_bits(_amplitude(sdiff, t), t)
                count += 1

    cats = set()
    traverse(cats.add, lambda v, n: None, lambda: None)
    tab = _FixedTable(sorted(cats))

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(b"\xff" + bytes([marker]))
        out.extend(struct.pack(">H", len(payload) + 2))
        out.extend(payload)

    sof = bytearray([precision]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for i in range(ncomp):
        sof += bytes([i + 1, 0x11, 0])
    seg(0xC3, bytes(sof))
    seg(0xC4, tab.dht_payload(0, 0))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00])
    sos += bytes([predictor, 0, pt])
    seg(0xDA, bytes(sos))

    state = {"bw": _BitWriter(), "rst": 0}

    def on_restart():
        state["bw"].flush()
        out.extend(state["bw"].out)
        out.extend(b"\xff" + bytes([0xD0 + (state["rst"] % 8)]))
        state["rst"] += 1
        state["bw"] = _BitWriter()

    traverse(
        lambda t: tab.emit(state["bw"], t),
        lambda v, n: state["bw"].put(v, n),
        on_restart,
    )
    state["bw"].flush()
    out.extend(state["bw"].out)
    out.extend(b"\xff\xd9")
    return bytes(out)


@pytest.mark.parametrize("predictor", [1, 2, 3, 4, 5, 6, 7])
def test_lossless_gray_all_predictors(predictor):
    rng = np.random.default_rng(80 + predictor)
    w, h = 9, 7
    plane = [[int(v) for v in rng.integers(0, 256, w)] for _ in range(h)]
    data = encode_lossless_jpeg(w, h, [plane], predictor=predictor)
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert (gw, gh, ch) == (w, h, 1)
    got = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
    np.testing.assert_array_equal(got, np.array(plane))


def test_lossless_rgb_and_point_transform():
    rng = np.random.default_rng(91)
    w, h, pt = 6, 5, 1
    planes = [
        [[int(v) for v in rng.integers(0, 128, w)] for _ in range(h)]
        for _ in range(3)
    ]
    data = encode_lossless_jpeg(w, h, planes, predictor=4, pt=pt)
    gw, gh, ch, px = decode_jpeg_bytes(data)
    assert (gw, gh, ch) == (w, h, 3)
    got = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
    exp = (np.stack([np.array(p) for p in planes], -1) << pt)
    np.testing.assert_array_equal(got, exp)


def test_lossless_16bit_high_byte():
    rng = np.random.default_rng(93)
    w, h = 5, 4
    plane = [[int(v) for v in rng.integers(0, 1 << 16, w)] for _ in range(h)]
    data = encode_lossless_jpeg(w, h, [plane], precision=16, predictor=2)
    gw, gh, ch, px = decode_jpeg_bytes(data)
    got = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
    np.testing.assert_array_equal(got, np.array(plane) >> 8)


def test_lossless_with_restarts():
    rng = np.random.default_rng(97)
    w, h = 8, 6
    plane = [[int(v) for v in rng.integers(0, 256, w)] for _ in range(h)]
    data = encode_lossless_jpeg(
        w, h, [plane], predictor=7, restart_interval=5
    )
    gw, gh, ch, px = decode_jpeg_bytes(data)
    got = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
    np.testing.assert_array_equal(got, np.array(plane))


def test_lossless_ssss16_special_category():
    # first sample 0 with precision 16: diff = (0 - 32768) mod 2^16
    # = 32768 -> the SSSS=16 category with NO magnitude bits
    plane = [[0, 1], [2, 3]]
    data = encode_lossless_jpeg(2, 2, [plane], precision=16, predictor=1)
    gw, gh, ch, px = decode_jpeg_bytes(data)
    got = np.frombuffer(px, dtype=np.uint8).reshape(2, 2)
    np.testing.assert_array_equal(got, np.array(plane) >> 8)
