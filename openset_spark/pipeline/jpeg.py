"""Pure-Python JPEG (ITU-T T.81) decoder — the full still-image
matrix.

Frames: baseline/extended sequential DCT (SOF0/1), progressive DCT
(SOF2), sequential + progressive ARITHMETIC (SOF9/10 — the QM-coder
models live in ``pipeline/jpeg_arith.py``), and LOSSLESS (SOF3,
Annex H Huffman DPCM with all seven predictors). Precisions 8 and 12
for DCT frames (2-16 for lossless), grayscale / YCbCr with any 1-2
sampling factors (4:4:4, 4:2:2, 4:2:0), CMYK/YCCK 4-component via
Adobe APP14, DRI/RSTn restart markers, DAC conditioning. Progressive
scans implement full spectral selection AND successive approximation
(T.81 G.1.2: DC first/refine, AC first with EOB runs, AC refinement
with correction bits), accumulating coefficients across scans and
reconstructing once at EOI. HIERARCHICAL sequences (T.81 Annex J)
decode too: DHP-introduced pyramids of sequential Huffman stages —
non-differential stages establish reference components, EXP doubles
them by J.1.1.2 sample interpolation, SOF5 differential stages add
an IDCT'd difference signal (DC coded without prediction, no level
shift) with per-stage integer rounding and clamping. Only
differential progressive/lossless and arithmetic-differential
stages raise ``NotImplementedError`` — vanishingly rare in corpora.

Decoding is numpy-vectorized where it counts: dequantization + IDCT
run as one 8x8 matrix sandwich per block batch, and the component
planes are assembled with array slicing. Only the Huffman bit-walk is
scalar Python — unavoidable without native code.

Entry point: ``decode_jpeg_bytes(data) -> (width, height, channels,
row-major pixel bytes)``.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_SIG = b"\xff\xd8"

# 8x8 IDCT basis: A[u, x] = C(u)/2 * cos((2x+1) u pi / 16);
# spatial = A.T @ coeffs @ A  (T.81 A.3.3)
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# zig-zag order (T.81 Figure 5): index in scan order -> (row, col)
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)


class _HuffTable:
    """Canonical Huffman table as a (code -> symbol) fast dict keyed by
    (length, code) — lookup walks one bit at a time, extending the
    candidate code; max depth 16 (T.81 C.2)."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """Entropy-coded segment reader: unstuffs 0xFF00, stops at markers
    (RSTn are consumed explicitly via restart())."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.bits = (self.bits << 8) | 0  # pad past EOI
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break  # restart marker: stop, consumed by restart()
                else:
                    break  # EOI / next segment: pad with zeros
                self.bits = (self.bits << 8) | 0xFF
                self.nbits += 8
                continue
            self.pos += 1
            self.bits = (self.bits << 8) | b
            self.nbits += 8
        if self.nbits <= 24:  # hit a marker: zero-pad so reads succeed
            self.bits <<= 8
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG: huffman code not found")

    def restart(self) -> None:
        """Consume an RSTn marker and reset bit state (T.81 E.2.4)."""
        self.bits = 0
        self.nbits = 0
        d = self.data
        # skip any fill bytes up to the marker
        while self.pos < len(d) and d[self.pos] != 0xFF:
            self.pos += 1
        if self.pos + 1 < len(d) and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
        else:
            raise ValueError("invalid JPEG: expected restart marker")


def _extend(v: int, n: int) -> int:
    """DIFF/coefficient sign extension (T.81 F.2.2.1 EXTEND)."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def decode_jpeg_bytes(data: bytes) -> tuple[int, int, int, bytes]:
    """Baseline JPEG -> (width, height, channels, row-major pixels)."""
    if data[:2] != JPEG_SIG:
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    restart_interval = 0
    frame = None  # (precision, h, w, components)
    progressive = False
    arith = False
    lossless = False
    adobe = None  # APP14 color-transform flag
    dc_cond: dict[int, tuple[int, int]] = {}  # DAC: table -> (L, U)
    ac_cond: dict[int, int] = {}  # DAC: table -> Kx
    coef = None  # progressive: comp id -> (blocks_y, blocks_x, 64) int32
    geo = None  # (hmax, vmax, mcux, mcuy)
    hier = None  # hierarchical (DHP seen): {"ref", "comps", "h", "w"}
    hier_coef = None  # current hierarchical frame's coefficient store
    hier_remaining = None  # component ids still unscanned this frame
    differential = False
    n = len(data)

    while pos < n:
        if data[pos] != 0xFF:
            raise ValueError(f"invalid JPEG: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(
                        np.float64
                    )
                    i += 64
                else:
                    tbl = (
                        np.frombuffer(seg[i : i + 128], dtype=">u2")
                        .astype(np.float64)
                    )
                    i += 128
                qt[tq] = tbl  # zig-zag order
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = list(seg[i + 1 : i + 17])
                total = sum(counts)
                symbols = seg[i + 17 : i + 17 + total]
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(counts, symbols)
                i += 17 + total
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0/1 baseline, SOF2 progressive, SOF9/10 sequential/
            # progressive arithmetic (QM-coded — pipeline/jpeg_arith.py)
            precision = seg[0]
            if precision not in (8, 12):
                raise NotImplementedError(
                    "only 8- and 12-bit JPEG supported"
                )
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = (precision, h, w, comps)
            progressive = marker in (0xC2, 0xCA)
            arith = marker in (0xC9, 0xCA)
            differential = False
        elif marker == 0xC3:  # SOF3: lossless (Huffman DPCM, Annex H)
            precision = seg[0]
            if not 2 <= precision <= 16:
                raise ValueError("invalid lossless precision")
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless JPEG not supported"
                    )
                comps.append({"id": cid, "h": 1, "v": 1, "tq": tq})
            frame = (precision, h, w, comps)
            progressive = False
            arith = False
            lossless = True
        elif marker == 0xC5:  # SOF5: differential sequential (Huffman)
            if hier is None:
                raise ValueError(
                    "invalid JPEG: differential frame without DHP"
                )
            precision = seg[0]
            if precision not in (8, 12):
                raise NotImplementedError(
                    "only 8- and 12-bit JPEG supported"
                )
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = (precision, h, w, comps)
            progressive = False
            arith = False
            differential = True
        elif marker in (0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "differential progressive/lossless and "
                "arithmetic-differential JPEG frames not supported"
            )
        elif marker == 0xDE:  # DHP: hierarchical sequence (T.81 J)
            precision = seg[0]
            hh, hw = struct.unpack(">HH", seg[1:5])
            hier = {"ref": {}, "comps": None, "h": hh, "w": hw}
        elif marker == 0xDF:  # EXP: expand reference components
            if hier is None or not hier["ref"]:
                raise ValueError("invalid JPEG: EXP without reference")
            eh, ev = seg[0] >> 4, seg[0] & 0x0F
            for cid in hier["ref"]:
                hier["ref"][cid] = _expand_plane(hier["ref"][cid], eh, ev)
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            i = 0
            while i < len(seg):
                tc, tb = seg[i] >> 4, seg[i] & 0x0F
                cs = seg[i + 1]
                if tc == 0:
                    dc_cond[tb] = (cs & 0x0F, cs >> 4)  # (L, U)
                else:
                    ac_cond[tb] = cs  # Kx
                i += 2
        elif marker == 0xEE:  # APP14 (Adobe color transform)
            if seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe = seg[11]
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("invalid JPEG: SOS before SOF")
            ns = seg[0]
            scan_sel = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                scan_sel.append((cs, tdta >> 4, tdta & 0x0F))
            if hier is not None:
                if progressive or arith or lossless:
                    raise NotImplementedError(
                        "hierarchical JPEG: only sequential Huffman "
                        "stages supported"
                    )
                if hier_coef is None:
                    hier_coef = _alloc_seq_coefs(frame)
                    hier_remaining = {c["id"] for c in frame[3]}
                pos = _decode_scan_coefs(
                    data,
                    pos + seglen,
                    frame,
                    scan_sel,
                    huff_dc,
                    huff_ac,
                    restart_interval,
                    hier_coef,
                    differential,
                )
                hier_remaining -= {cs for cs, _, _ in scan_sel}
                if not hier_remaining:
                    _hier_apply_frame(hier, frame, hier_coef, qt, differential)
                    hier_coef = None
                continue
            if lossless:
                ss = seg[1 + 2 * ns]  # predictor selector
                pt = seg[3 + 2 * ns] & 0x0F  # point transform
                pixels = _decode_scan_lossless(
                    data,
                    pos + seglen,
                    frame,
                    scan_sel,
                    ss,
                    pt,
                    huff_dc,
                    restart_interval,
                )
                _, h, w, comps = frame
                return w, h, len(comps), pixels
            if arith and not progressive:
                pixels = _decode_scan_arith(
                    data,
                    pos + seglen,
                    frame,
                    scan_sel,
                    qt,
                    dc_cond,
                    ac_cond,
                    restart_interval,
                    adobe,
                )
                precision, h, w, comps = frame
                return w, h, len(comps), pixels
            if arith:
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                if coef is None:
                    coef, geo = _init_prog_state(frame)
                pos = _decode_prog_scan_arith(
                    data,
                    pos + seglen,
                    frame,
                    geo,
                    scan_sel,
                    ss,
                    se,
                    ahal >> 4,
                    ahal & 0x0F,
                    dc_cond,
                    ac_cond,
                    restart_interval,
                    coef,
                )
                continue
            if not progressive:
                pixels = _decode_scan(
                    data,
                    pos + seglen,
                    frame,
                    scan_sel,
                    qt,
                    huff_dc,
                    huff_ac,
                    restart_interval,
                    adobe,
                )
                precision, h, w, comps = frame
                return w, h, len(comps), pixels
            # progressive: accumulate this scan's coefficients, then
            # keep walking markers (more scans follow until EOI)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            if coef is None:
                coef, geo = _init_prog_state(frame)
            pos = _decode_prog_scan(
                data,
                pos + seglen,
                frame,
                geo,
                scan_sel,
                ss,
                se,
                ahal >> 4,
                ahal & 0x0F,
                huff_dc,
                huff_ac,
                restart_interval,
                coef,
            )
            continue
        pos += seglen
    if hier is not None and hier["comps"] is not None:
        return (
            hier["w"],
            hier["h"],
            len(hier["comps"]),
            _hier_emit(hier, adobe, frame[0]),
        )
    if coef is not None:
        precision, h, w, comps = frame
        hmax, vmax = geo[0], geo[1]
        return w, h, len(comps), _reconstruct(
            comps, coef, qt, hmax, vmax, h, w, adobe, frame[0]
        )
    raise ValueError("invalid JPEG: no scan data")


def _alloc_seq_coefs(frame) -> dict:
    """MCU-padded per-component coefficient arrays for a sequential
    (single-pass) frame."""
    precision, h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    return {
        c["id"]: np.zeros(
            (mcuy * c["v"], mcux * c["h"], 64), dtype=np.float64
        )
        for c in comps
    }


def _decode_scan_coefs(
    data, pos, frame, scan_sel, huff_dc, huff_ac, restart_interval,
    coef, differential=False,
) -> int:
    """The sequential-Huffman MCU walk into ``coef`` (per-component
    zig-zag arrays from ``_alloc_seq_coefs``); returns the position
    of the marker following the entropy-coded data. ``differential``
    decodes DC WITHOUT prediction (T.81 F.2.1.3.1: PRED is zero in
    differential frames — the hierarchical difference signal)."""
    precision, h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, ta in scan_sel:
        c = by_id[cs]
        c["td"], c["ta"] = td, ta
        order.append(c)
    for c in order:
        c["pred"] = 0

    reader = _BitReader(data, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                for c in order:
                    c["pred"] = 0
            for c in order:
                for v in range(c["v"]):
                    for hh in range(c["h"]):
                        zz = np.zeros(64, dtype=np.float64)
                        t = reader.decode_huff(huff_dc[c["td"]])
                        diff = _extend(reader.receive(t), t)
                        if differential:
                            zz[0] = diff
                        else:
                            c["pred"] += diff
                            zz[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = reader.decode_huff(huff_ac[c["ta"]])
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("invalid JPEG: AC overflow")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        coef[c["id"]][my * c["v"] + v, mx * c["h"] + hh] = zz
            mcu_count += 1

    # advance to the marker that terminates this entropy segment
    p = reader.pos
    n = len(data)
    while p + 1 < n and not (data[p] == 0xFF and data[p + 1] != 0x00):
        p += 1
    return p


def _decode_scan(
    data, pos, frame, scan_sel, qt, huff_dc, huff_ac, restart_interval,
    adobe=None,
) -> bytes:
    precision, h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    coef = _alloc_seq_coefs(frame)
    _decode_scan_coefs(
        data, pos, frame, scan_sel, huff_dc, huff_ac, restart_interval,
        coef,
    )
    return _reconstruct(
        comps, coef, qt, hmax, vmax, h, w, adobe, precision
    )


def _decode_scan_arith(
    data, pos, frame, scan_sel, qt, dc_cond, ac_cond, restart_interval,
    adobe=None,
) -> bytes:
    """Sequential arithmetic (SOF9) scan: the same MCU walk as
    `_decode_scan`, with the QM-coder statistical models from
    pipeline/jpeg_arith.py in place of Huffman tables. Restart
    markers re-init the coder AND every statistics bin (F.2.4)."""
    from openset_spark.pipeline.jpeg_arith import (
        ArithDecoder,
        _new_ac_stats,
        _new_dc_stats,
        decode_ac_coefs,
        decode_dc_diff,
    )

    precision, h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, ta in scan_sel:
        c = by_id[cs]
        c["td"], c["ta"] = td, ta
        order.append(c)

    coef = {}
    for c in comps:
        coef[c["id"]] = np.zeros(
            (mcuy * c["v"], mcux * c["h"], 64), dtype=np.float64
        )
        c["pred"] = 0
        c["dc_ctx"] = 0

    def fresh_stats():
        dc = {c["td"]: _new_dc_stats() for c in order}
        ac = {c["ta"]: _new_ac_stats() for c in order}
        return dc, ac

    dec = ArithDecoder(data, pos)
    dc_stats, ac_stats = fresh_stats()
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                # skip to the RSTn marker, then restart everything
                p = dec.find_marker()
                if p + 1 < len(data) and 0xD0 <= data[p + 1] <= 0xD7:
                    p += 2
                dec = ArithDecoder(data, p)
                dc_stats, ac_stats = fresh_stats()
                for c in order:
                    c["pred"] = 0
                    c["dc_ctx"] = 0
            for c in order:
                cl, cu = dc_cond.get(c["td"], (0, 1))
                kx = ac_cond.get(c["ta"], 5)
                for v in range(c["v"]):
                    for hh in range(c["h"]):
                        zz = np.zeros(64, dtype=np.float64)
                        diff, c["dc_ctx"] = decode_dc_diff(
                            dec, dc_stats[c["td"]], c["dc_ctx"], cl, cu
                        )
                        c["pred"] += diff
                        zz[0] = c["pred"]
                        decode_ac_coefs(dec, ac_stats[c["ta"]], zz, kx)
                        coef[c["id"]][my * c["v"] + v, mx * c["h"] + hh] = zz
            mcu_count += 1

    return _reconstruct(
        comps, coef, qt, hmax, vmax, h, w, adobe, precision
    )


def _decode_prog_scan_arith(
    data,
    pos,
    frame,
    geo,
    scan_sel,
    ss,
    se,
    ah,
    al,
    dc_cond,
    ac_cond,
    restart_interval,
    coef,
) -> int:
    """One progressive ARITHMETIC scan (SOF10, T.81 G.1.3) into the
    coefficient accumulators; returns the next marker position. Same
    traversal rules as the Huffman progressive path; restarts re-init
    the QM coder and every statistics bin."""
    from openset_spark.pipeline.jpeg_arith import (
        ArithDecoder,
        _new_ac_stats,
        _new_dc_stats,
        decode_ac_first,
        decode_ac_refine,
        decode_dc_diff,
        decode_dc_refine,
    )

    precision, h, w, comps = frame
    hmax, vmax, mcux, mcuy = geo
    by_id = {c["id"]: c for c in comps}
    order = [(by_id[cs], td, ta) for cs, td, ta in scan_sel]

    def units():
        if len(order) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    unit = []
                    for c, td, ta in order:
                        for v in range(c["v"]):
                            for hh in range(c["h"]):
                                unit.append(
                                    (c, td, ta, mx * c["h"] + hh, my * c["v"] + v)
                                )
                    yield unit
        else:
            c, td, ta = order[0]
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    yield [(c, td, ta, bx, by)]

    def fresh():
        dc = {td: _new_dc_stats() for _, td, _ in order}
        ac = {ta: _new_ac_stats() for _, _, ta in order}
        preds = {c["id"]: 0 for c, _, _ in order}
        ctxs = {c["id"]: 0 for c, _, _ in order}
        return dc, ac, preds, ctxs

    dec = ArithDecoder(data, pos)
    dc_stats, ac_stats, preds, ctxs = fresh()
    count = 0
    for unit in units():
        if restart_interval and count and count % restart_interval == 0:
            p = dec.find_marker()
            if p + 1 < len(data) and 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
            dec = ArithDecoder(data, p)
            dc_stats, ac_stats, preds, ctxs = fresh()
        for c, td, ta, bx, by in unit:
            block = coef[c["id"]][by, bx]
            if ss == 0:
                if ah == 0:
                    cl, cu = dc_cond.get(td, (0, 1))
                    diff, ctxs[c["id"]] = decode_dc_diff(
                        dec, dc_stats[td], ctxs[c["id"]], cl, cu
                    )
                    preds[c["id"]] += diff
                    block[0] = preds[c["id"]] << al
                else:
                    decode_dc_refine(dec, block, al)
            elif ah == 0:
                kx = ac_cond.get(ta, 5)
                decode_ac_first(dec, ac_stats[ta], block, ss, se, al, kx)
            else:
                decode_ac_refine(dec, ac_stats[ta], block, ss, se, al)
        count += 1

    # resume marker parsing (same skip rules as the Huffman path)
    p = dec.pos
    n = len(data)
    while p < n:
        if data[p] != 0xFF:
            p += 1
            continue
        nxt = data[p + 1] if p + 1 < n else 0xD9
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            p += 2
        elif nxt == 0xFF:
            p += 1
        else:
            break
    return p


def _decode_scan_lossless(
    data, pos, frame, scan_sel, predictor, pt, huff_dc, restart_interval
) -> bytes:
    """Lossless JPEG (SOF3, T.81 Annex H): Huffman-coded DPCM over
    spatial samples — no DCT, no quantization. Per sample: an SSSS
    category from the DC table, then that many magnitude bits
    (SSSS=16 means diff=32768 with NO extra bits); reconstruction is
    (prediction + diff) mod 2^16, output = sample << Pt.

    Predictors 1-7 per H.1: a (left), b (above), c (above-left),
    a+b-c, a+(b-c)/2, b+(a-c)/2, (a+b)/2. First sample of the image
    (and after each restart) predicts 2^(P-Pt-1); the rest of the
    first line uses the left neighbor, the first sample of every
    other line its upper neighbor. Components interleave one sample
    per MCU (sampling factors restricted to 1x1 — the common lossless
    shape). Output: precision <= 8 emits the samples as bytes, wider
    precisions emit the high 8 bits (the repo-wide byte contract);
    3-component output is raw RGB planes (lossless JPEG defines no
    color transform)."""
    precision, h, w, comps = frame
    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, _ta in scan_sel:
        c = by_id[cs]
        c["td"] = td
        order.append(c)
    ncomp = len(order)

    planes = [np.zeros((h, w), dtype=np.int64) for _ in range(ncomp)]
    reader = _BitReader(data, pos)
    default_pred = 1 << (precision - pt - 1)
    # restart intervals count MCUs = one sample per component
    count = 0
    restart_row_start = 0  # after a restart, prediction re-defaults
    for y in range(h):
        for x in range(w):
            if (
                restart_interval
                and count
                and count % restart_interval == 0
            ):
                reader.restart()
                restart_row_start = count
            for ci, c in enumerate(order):
                t = reader.decode_huff(huff_dc[c["td"]])
                if t == 16:
                    diff = 32768
                elif t > 16:
                    raise ValueError("invalid lossless SSSS")
                else:
                    diff = _extend(reader.receive(t), t)
                plane = planes[ci]
                first_since_restart = count == restart_row_start and (
                    restart_interval or count == 0
                )
                if (y == 0 and x == 0) or (
                    restart_interval and first_since_restart
                ):
                    pred = default_pred
                elif y == 0:
                    pred = int(plane[0, x - 1])
                elif x == 0:
                    pred = int(plane[y - 1, 0])
                else:
                    a = int(plane[y, x - 1])
                    b = int(plane[y - 1, x])
                    cc = int(plane[y - 1, x - 1])
                    if predictor == 1:
                        pred = a
                    elif predictor == 2:
                        pred = b
                    elif predictor == 3:
                        pred = cc
                    elif predictor == 4:
                        pred = a + b - cc
                    elif predictor == 5:
                        pred = a + ((b - cc) >> 1)
                    elif predictor == 6:
                        pred = b + ((a - cc) >> 1)
                    elif predictor == 7:
                        pred = (a + b) >> 1
                    else:
                        raise ValueError(
                            f"invalid lossless predictor {predictor}"
                        )
                plane[y, x] = (pred + diff) & 0xFFFF
            count += 1

    down = max(0, precision - 8)
    out = np.stack([(p << pt) >> down for p in planes], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8).tobytes()


def _reconstruct(
    comps, coef, qt, hmax, vmax, h, w, adobe=None, precision=8
) -> bytes:
    """Shared back-end: dequantize + batched IDCT + upsample + color
    conversion over per-component zig-zag coefficient arrays.
    ``adobe`` is the APP14 color-transform flag (None when absent):
    for 4-component frames, 2 means YCCK (the first three planes are
    YCbCr-coded inverted CMY) and anything else raw CMYK; output for
    4 components is the CMYK plane stack as 4 channels.

    ``precision`` 12 (extended sequential / progressive, T.81 table
    B.2) level-shifts by 2048, clips to [0, 4095] per plane and
    emits the HIGH 8 bits — the byte contract stays uniform across
    precisions (the 16-bit surface is a corpus rarity not worth a
    second schema)."""
    full = []
    for c in comps:
        q = qt[c["tq"]]
        arr = np.asarray(coef[c["id"]], dtype=np.float64)
        nby, nbx = arr.shape[:2]
        flat = arr.reshape(-1, 64)
        deq = np.zeros_like(flat)
        deq[:, _ZIGZAG] = flat * q  # un-zigzag while dequantizing
        blocks = deq.reshape(-1, 8, 8)
        # spatial = A.T @ B @ A for the whole batch
        shift = 2048.0 if precision == 12 else 128.0
        spatial = np.einsum("ux,nuv,vy->nxy", _A, blocks, _A) + shift
        plane = (
            spatial.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        # upsample to full resolution (pixel replication) and crop
        sx, sy = hmax // c["h"], vmax // c["v"]
        if sx > 1 or sy > 1:
            plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)
        plane = plane[:h, :w]
        if precision == 12:
            # clip at 12-bit range, then keep the high byte
            plane = np.floor(np.clip(np.round(plane), 0, 4095) / 16.0)
        full.append(plane)

    return _color_emit(full, adobe)


def _expand_plane(p: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """EXP reference expansion (T.81 J.1.1.2): double a dimension by
    sample interpolation — out[2i]=in[i], out[2i+1]=(in[i]+in[i+1]+1)>>1,
    with the final output sample replicating the last input sample."""
    if eh:
        n = p.shape[1]
        out = np.zeros((p.shape[0], 2 * n))
        out[:, 0::2] = p
        if n > 1:
            out[:, 1:-1:2] = np.floor((p[:, :-1] + p[:, 1:] + 1.0) / 2.0)
        out[:, -1] = p[:, -1]
        p = out
    if ev:
        n = p.shape[0]
        out = np.zeros((2 * n, p.shape[1]))
        out[0::2, :] = p
        if n > 1:
            out[1:-1:2, :] = np.floor((p[:-1, :] + p[1:, :] + 1.0) / 2.0)
        out[-1, :] = p[-1, :]
        p = out
    return p


def _hier_apply_frame(hier, frame, coef, qt, differential) -> None:
    """Fold one hierarchical stage into the reference components
    (T.81 J.1.1): dequantize + IDCT the stage's blocks, crop to the
    stage's component dimensions, then either replace the reference
    (non-differential stage, with level shift) or ADD the difference
    signal (differential stage, no level shift). References hold
    integer sample values — rounded and clamped to [0, 2^P-1] after
    every stage (the rule the in-test encoder mirrors exactly)."""
    precision, h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    maxval = float((1 << precision) - 1)
    shift = 0.0 if differential else (
        2048.0 if precision == 12 else 128.0
    )
    for c in comps:
        q = qt[c["tq"]]
        arr = np.asarray(coef[c["id"]], dtype=np.float64)
        nby, nbx = arr.shape[:2]
        flat = arr.reshape(-1, 64)
        deq = np.zeros_like(flat)
        deq[:, _ZIGZAG] = flat * q
        blocks = deq.reshape(-1, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", _A, blocks, _A) + shift
        plane = (
            spatial.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        plane = np.round(plane[:ch, :cw])
        if differential:
            ref = hier["ref"].get(c["id"])
            if ref is None:
                raise ValueError(
                    "invalid JPEG: differential frame before any "
                    "reference for component"
                )
            if ref.shape[0] < ch or ref.shape[1] < cw:
                raise ValueError(
                    "invalid JPEG: reference smaller than differential "
                    "frame (missing EXP?)"
                )
            plane = ref[:ch, :cw] + plane
        hier["ref"][c["id"]] = np.clip(plane, 0.0, maxval)
    hier["comps"] = comps


def _hier_emit(hier, adobe, precision) -> bytes:
    """Assemble the final hierarchical image from the reference
    components: replicate to full resolution by the LAST frame's
    sampling factors, crop to the DHP dimensions, and run the shared
    color emission (12-bit references emit their high byte, matching
    the sequential back-end's contract)."""
    h, w = hier["h"], hier["w"]
    comps = hier["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for c in comps:
        plane = hier["ref"][c["id"]]
        sx, sy = hmax // c["h"], vmax // c["v"]
        if sx > 1 or sy > 1:
            plane = np.repeat(np.repeat(plane, sy, axis=0), sx, axis=1)
        plane = plane[:h, :w]
        if precision == 12:
            plane = np.floor(np.clip(plane, 0, 4095) / 16.0)
        full.append(plane)
    return _color_emit(full, adobe)


def _color_emit(full: list, adobe=None) -> bytes:
    """Color conversion + byte emission over full-resolution planes
    (shared by the sequential/progressive back-end and the
    hierarchical final stage)."""
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return out.tobytes()
    if len(full) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, b], axis=-1)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()
    if len(full) == 4:
        c1, c2, c3, c4 = full
        if adobe == 2:  # YCCK: undo the YCbCr coding of inverted CMY
            r = c1 + 1.402 * (c3 - 128.0)
            g = c1 - 0.344136 * (c2 - 128.0) - 0.714136 * (c3 - 128.0)
            b = c1 + 1.772 * (c2 - 128.0)
            c1, c2, c3 = 255.0 - r, 255.0 - g, 255.0 - b
        cmyk = np.stack([c1, c2, c3, c4], axis=-1)
        return np.clip(np.round(cmyk), 0, 255).astype(np.uint8).tobytes()
    raise NotImplementedError("JPEG with >4 components not supported")


# ------------------------------------------------- progressive (T.81 G)
def _init_prog_state(frame):
    """Per-component zig-zag coefficient accumulators (MCU-padded) and
    the frame geometry, including each component's own non-interleaved
    block dimensions (T.81 A.1.1: ceil of the scaled sample dims)."""
    precision, h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coef = {}
    for c in comps:
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        c["bw"] = (cw + 7) // 8
        c["bh"] = (ch + 7) // 8
        coef[c["id"]] = np.zeros(
            (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32
        )
    return coef, (hmax, vmax, mcux, mcuy)


def _ac_first(reader, block, ss, se, al, ac_table, eobrun) -> int:
    """One block of an AC first scan (Ah=0): T.81 G.1.2.2 —
    run/size coding within the spectral band, EOB run counts whole
    blocks whose band is entirely zero."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_huff(ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("invalid JPEG: AC band overflow")
            block[k] = _extend(reader.receive(s), s) << al
            k += 1
    return eobrun


def _ac_refine(reader, block, ss, se, al, ac_table, eobrun) -> int:
    """One block of an AC refinement scan (Ah>0): T.81 G.1.2.3 —
    each already-nonzero coefficient consumes a correction bit as the
    position walk passes it; runs count only zero-HISTORY positions;
    newly-nonzero coefficients arrive as ±1 at this bit plane. An EOB
    run still carries correction bits for the nonzero coefficients in
    the remainder of every covered block."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huff(ac_table)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break  # current block finishes in the EOB section
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("invalid JPEG: refinement size != 1")
                val = p1 if reader.read_bit() else m1
            while k <= se:
                if block[k] != 0:
                    if reader.read_bit() and not (int(block[k]) & p1):
                        block[k] += p1 if block[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                block[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if block[k] != 0:
                if reader.read_bit() and not (int(block[k]) & p1):
                    block[k] += p1 if block[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(
    data,
    pos,
    frame,
    geo,
    scan_sel,
    ss,
    se,
    ah,
    al,
    huff_dc,
    huff_ac,
    restart_interval,
    coef,
) -> int:
    """Decode one progressive scan into the coefficient accumulators;
    returns the position of the next marker. DC scans (Ss=0) may be
    interleaved and traverse MCUs; AC scans are single-component and
    traverse that component's own block grid (T.81 G.1.1). Restarts
    reset DC predictors AND the EOB run."""
    precision, h, w, comps = frame
    hmax, vmax, mcux, mcuy = geo
    by_id = {c["id"]: c for c in comps}
    order = [(by_id[cs], td, ta) for cs, td, ta in scan_sel]

    def units():
        if len(order) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    unit = []
                    for c, td, ta in order:
                        for v in range(c["v"]):
                            for hh in range(c["h"]):
                                unit.append(
                                    (c, td, ta, mx * c["h"] + hh, my * c["v"] + v)
                                )
                    yield unit
        else:
            c, td, ta = order[0]
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    yield [(c, td, ta, bx, by)]

    reader = _BitReader(data, pos)
    preds = {c["id"]: 0 for c, _, _ in order}
    eobrun = 0
    count = 0
    for unit in units():
        if restart_interval and count and count % restart_interval == 0:
            reader.restart()
            preds = dict.fromkeys(preds, 0)
            eobrun = 0
        for c, td, ta, bx, by in unit:
            block = coef[c["id"]][by, bx]
            if ss == 0:
                if ah == 0:
                    t = reader.decode_huff(huff_dc[td])
                    diff = _extend(reader.receive(t), t)
                    preds[c["id"]] += diff
                    block[0] = preds[c["id"]] << al
                elif reader.read_bit():
                    block[0] |= 1 << al
            elif ah == 0:
                eobrun = _ac_first(reader, block, ss, se, al, huff_ac[ta], eobrun)
            else:
                eobrun = _ac_refine(reader, block, ss, se, al, huff_ac[ta], eobrun)
        count += 1

    # resume marker parsing: skip pad/fill bytes, stuffing and any
    # trailing restart markers to the next true marker
    p = reader.pos
    n = len(data)
    while p < n:
        if data[p] != 0xFF:
            p += 1
            continue
        nxt = data[p + 1] if p + 1 < n else 0xD9
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            p += 2
        elif nxt == 0xFF:
            p += 1  # fill byte
        else:
            break
    return p
