"""CABAC entropy decoding for H.264 I-frames (ITU-T H.264 clause 9.3).

Main/High-profile streams use CABAC (entropy_coding_mode_flag = 1),
which the CAVLC-only front-end in :mod:`h264` rejected. This module
adds the arithmetic decoding engine (9.3.3.2), the I-slice context
models, binarizations (9.3.2) and residual syntax (7.3.5.3.x /
9.3.3.1.x), and feeds the SAME reconstruction back-end as the CAVLC
path (`_recon_i4x4_luma` / `_recon_i16x16_luma` / `_recon_chroma` in
h264.py) — entropy coding is the only difference between the two
front-ends. Scope: 4:2:0 I slices, including the High-profile 8x8
transform (transform_size_8x8_flag, ctxBlockCat 5 residuals with the
Table 9-43 significance maps — r9 second pass).

Engine constants (Tables 9-44/9-45) and the I-slice context
initialization values (the Intra columns of Tables 9-12..9-23) are
transcribed from the published specification. The engine, the
binarizations, and all context-increment derivations are exercised
end-to-end by tests/test_h264_cabac.py, which round-trips an
independent in-test CABAC *encoder* (9.3.4) against this decoder and
the numpy reconstruction model; the initialization constants are
additionally range-checked there. (No conformance bitstreams or
reference encoders exist in this environment, so cross-encoder
interop is asserted structurally, not against external streams.)

Reference behavior parity: the reference engine
(/root/reference) ships no video decoding at all — this module, like
the rest of the codec layer, goes beyond reference parity (SURVEY §2.8).
"""

from __future__ import annotations

from openset_spark.pipeline.h264 import (
    _BLK_XY,
    _pred_mode_4x4,
    _recon_chroma,
    _recon_i4x4_luma,
    _recon_i16x16_luma,
)

# ------------------------------------------------------------------
# engine tables (9.3.3.2.1: Table 9-44 rangeTabLPS, 9-45 transIdx)
# ------------------------------------------------------------------
RANGE_LPS = [
    [128, 176, 208, 240], [128, 167, 197, 227], [128, 158, 187, 216],
    [123, 150, 178, 205], [116, 142, 169, 195], [111, 135, 160, 185],
    [105, 128, 152, 175], [100, 122, 144, 166], [95, 116, 137, 158],
    [90, 110, 130, 150], [85, 104, 123, 142], [81, 99, 117, 135],
    [77, 94, 111, 128], [73, 89, 105, 122], [69, 85, 100, 116],
    [66, 80, 95, 110], [62, 76, 90, 104], [59, 72, 86, 99],
    [56, 69, 81, 94], [53, 65, 77, 89], [51, 62, 73, 85],
    [48, 59, 69, 80], [46, 56, 66, 76], [43, 53, 63, 72],
    [41, 50, 59, 69], [39, 48, 56, 65], [37, 45, 54, 62],
    [35, 43, 51, 59], [33, 41, 48, 56], [32, 39, 46, 53],
    [30, 37, 43, 50], [29, 35, 41, 48], [27, 33, 39, 45],
    [26, 31, 37, 43], [24, 30, 35, 41], [23, 28, 33, 39],
    [22, 27, 32, 37], [21, 26, 30, 35], [20, 24, 29, 33],
    [19, 23, 27, 31], [18, 22, 26, 30], [17, 21, 25, 28],
    [16, 20, 23, 27], [15, 19, 22, 25], [14, 18, 21, 24],
    [14, 17, 20, 23], [13, 16, 19, 22], [12, 15, 18, 21],
    [12, 14, 17, 20], [11, 14, 16, 19], [11, 13, 15, 18],
    [10, 12, 15, 17], [10, 12, 14, 16], [9, 11, 13, 15],
    [9, 11, 12, 14], [8, 10, 12, 14], [8, 9, 11, 13],
    [7, 9, 11, 12], [7, 9, 10, 12], [7, 8, 10, 11],
    [6, 8, 9, 11], [6, 7, 9, 10], [6, 7, 8, 9],
    [2, 2, 2, 2],
]
TRANS_LPS = [
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12,
    13, 13, 15, 15, 16, 16, 18, 18, 19, 19, 21, 21, 23, 22, 23, 24,
    24, 25, 26, 26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33,
    33, 33, 34, 34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 63,
]
TRANS_MPS = [min(i + 1, 62) for i in range(63)] + [63]

# ------------------------------------------------------------------
# I-slice context initialization (m, n) — Intra columns of Tables
# 9-12..9-23, for the ctxIdx ranges an I slice can reference.
# ------------------------------------------------------------------
INIT_I: dict[int, tuple[int, int]] = {}


def _fill(base: int, pairs) -> None:
    for i, mn in enumerate(pairs):
        INIT_I[base + i] = mn


# mb_type (I): ctx 3..10
_fill(3, [(20, -15), (2, 54), (3, 74), (-28, 127), (-23, 104),
          (-6, 53), (-1, 54), (7, 51)])
# mb_qp_delta 60..63, intra_chroma_pred_mode 64..67,
# prev_intra4x4_pred_mode_flag 68, rem_intra4x4_pred_mode 69
_fill(60, [(0, 41), (0, 63), (0, 63), (0, 63),
           (-9, 83), (4, 86), (0, 97), (-7, 72), (13, 41), (3, 62)])
# coded_block_pattern: luma 73..76, chroma 77..84
_fill(73, [(-17, 127), (-13, 102), (0, 82), (-7, 74),
           (-21, 107), (-27, 127), (-31, 127), (-24, 127),
           (-18, 95), (-27, 127), (-21, 114), (-30, 127)])
# coded_block_flag: 85..104 (ctxBlockCat 0..4, 4 contexts each)
_fill(85, [(-17, 123), (-12, 115), (-16, 122), (-11, 115),
           (-12, 63), (-2, 68), (-15, 84), (-13, 104),
           (-3, 70), (-8, 93), (-10, 90), (-30, 127),
           (-1, 74), (-6, 97), (-7, 91), (-20, 127),
           (-4, 56), (-5, 82), (-7, 76), (-22, 125)])
# significant_coeff_flag (frame coded): 105..165
_fill(105, [(-7, 93), (-11, 87), (-3, 77), (-5, 71),
            (-4, 63), (-4, 68), (-12, 84), (-7, 62),
            (-7, 65), (8, 61), (5, 56), (-2, 66),
            (1, 64), (0, 61), (-2, 78), (1, 50),
            (7, 52), (10, 35), (0, 44), (11, 38),
            (1, 45), (0, 46), (5, 44), (31, 17),
            (1, 51), (7, 50), (28, 19), (16, 33),
            (14, 62), (-13, 108), (-15, 100), (-13, 101),
            (-13, 91), (-12, 94), (-10, 88), (-16, 84),
            (-10, 86), (-7, 83), (-13, 87), (-19, 94),
            (1, 70), (0, 72), (-5, 74), (18, 59),
            (-8, 102), (-15, 100), (0, 95), (-4, 75),
            (2, 72), (-11, 75), (-3, 71), (15, 46),
            (-13, 69), (0, 62), (0, 65), (21, 37),
            (-15, 72), (9, 57), (16, 54), (0, 62), (12, 72)])
# last_significant_coeff_flag (frame coded): 166..226
_fill(166, [(24, 0), (15, 9), (8, 25), (13, 18),
            (15, 9), (13, 19), (10, 37), (12, 18),
            (6, 29), (20, 33), (15, 30), (4, 45),
            (1, 58), (0, 62), (7, 61), (12, 38),
            (11, 45), (15, 39), (11, 42), (13, 44),
            (16, 45), (12, 41), (10, 49), (30, 34),
            (18, 42), (10, 55), (17, 51), (17, 46),
            (0, 89), (26, -19), (22, -17), (26, -17),
            (30, -25), (28, -20), (33, -23), (37, -27),
            (33, -23), (40, -28), (38, -17), (33, -11),
            (40, -15), (41, -6), (38, 1), (41, 17),
            (30, -6), (27, 3), (26, 22), (37, -16),
            (35, -4), (38, -8), (38, -3), (37, 3),
            (38, 5), (42, 0), (35, 16), (39, 22),
            (14, 48), (27, 37), (21, 60), (12, 68), (2, 97)])
# coeff_abs_level_minus1: 227..275
_fill(227, [(-3, 71), (-6, 42), (-5, 50), (-3, 54),
            (-2, 62), (0, 58), (1, 63), (-2, 72),
            (-1, 74), (-9, 91), (-5, 67), (-4, 56),
            (-4, 61), (-4, 65), (-8, 73), (-1, 66),
            (-1, 64), (0, 59), (2, 59), (21, -13),
            (33, -14), (39, -7), (46, -2), (51, 2),
            (60, 6), (61, 17), (55, 34), (42, 62),
            (-6, 66), (-7, 35), (-7, 42), (-8, 45),
            (-5, 48), (-12, 56), (-6, 60), (-5, 62),
            (-8, 66), (-8, 76), (-5, 85), (-6, 81),
            (-10, 77), (-7, 81), (-17, 80), (-18, 73),
            (-4, 74), (-10, 83), (-9, 71), (-9, 67), (-1, 61)])

N_CTX = 460  # 0..435 used (core I-slice + 8x8 frame contexts)

# per-category layout constants shared by decoder and in-test encoder
SIG_OFF = {0: 0, 1: 15, 2: 29, 3: 44, 4: 47}
ABS_OFF = {0: 0, 1: 10, 2: 20, 3: 30, 4: 39}
MAX_COEFF = {0: 16, 1: 15, 2: 16, 3: 4, 4: 15}


def init_contexts(slice_qp: int) -> tuple[list[int], list[int]]:
    """9.3.1.1: (pStateIdx[], valMPS[]) for every context. Contexts
    an I slice never references are initialized to a neutral state —
    touching one is a bug the round-trip tests would surface."""
    pstate = [0] * N_CTX
    mps = [0] * N_CTX
    qp = min(51, max(0, slice_qp))
    for idx, (m, n) in INIT_I.items():
        pre = min(126, max(1, ((m * qp) >> 4) + n))
        if pre <= 63:
            pstate[idx] = 63 - pre
            mps[idx] = 0
        else:
            pstate[idx] = pre - 64
            mps[idx] = 1
    return pstate, mps


class CabacReader:
    """Bit-serial arithmetic decoding engine (9.3.3.2) over an RBSP.

    Bit accounting is exact: after DecodeTerminate returns 1 the read
    position sits at the end of the encoder's arithmetic word (the
    encoder's first-bit suppression and 10-bit flush cancel the
    decoder's 9-bit initialization lookahead), so PCM payloads and
    trailing alignment can be read directly at the next byte
    boundary, and the engine re-initialized after them."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos  # bit position
        self.range = 0
        self.offset = 0

    def _bit(self) -> int:
        p = self.pos
        self.pos = p + 1
        byte_i = p >> 3
        if byte_i >= len(self.data):
            return 0  # past-the-end renorm reads are zero bits
        return (self.data[byte_i] >> (7 - (p & 7))) & 1

    def init_arith(self) -> None:
        self.range = 510
        self.offset = 0
        for _ in range(9):
            self.offset = (self.offset << 1) | self._bit()

    def decision(self, pstate, mps, ctx: int) -> int:
        st = pstate[ctx]
        r_lps = RANGE_LPS[st][(self.range >> 6) & 3]
        self.range -= r_lps
        if self.offset >= self.range:
            bin_val = 1 - mps[ctx]
            self.offset -= self.range
            self.range = r_lps
            if st == 0:
                mps[ctx] = 1 - mps[ctx]
            pstate[ctx] = TRANS_LPS[st]
        else:
            bin_val = mps[ctx]
            pstate[ctx] = TRANS_MPS[st]
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return bin_val

    def bypass(self) -> int:
        self.offset = (self.offset << 1) | self._bit()
        if self.offset >= self.range:
            self.offset -= self.range
            return 1
        return 0

    def terminate(self) -> int:
        self.range -= 2
        if self.offset >= self.range:
            return 1
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return 0

    # raw reads between arithmetic words (I_PCM payloads)
    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def u8(self) -> int:
        return self.u(8)

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self._bit()
        return v


class _SliceState:
    """Per-picture CABAC bookkeeping the context increments need:
    per-MB kind/cbp/chroma-mode, per-block coded_block_flags. PCM
    macroblocks store all-ones flags and cbp 15/2 (9.3.3.1.1)."""

    def __init__(self, frame):
        w, h = frame.mb_w, frame.mb_h
        self.kind = [[None] * w for _ in range(h)]  # 'i4'|'i16'|'pcm'
        self.cbp_luma = [[0] * w for _ in range(h)]
        self.cbp_chroma = [[0] * w for _ in range(h)]
        self.chroma_mode = [[0] * w for _ in range(h)]
        self.cbf_y = [[0] * (4 * w) for _ in range(4 * h)]
        self.cbf_ydc = [[0] * w for _ in range(h)]
        self.cbf_cdc = [
            [[0] * w for _ in range(h)] for _ in range(2)
        ]
        self.cbf_c = [
            [[0] * (2 * w) for _ in range(2 * h)] for _ in range(2)
        ]
        self.prev_qp_delta_nz = False


def _mb_avail(frame, mbx, mby, cur_slice):
    return (
        0 <= mbx < frame.mb_w
        and 0 <= mby < frame.mb_h
        and frame.mb_slice[mby][mbx] == cur_slice
    )


# ------------------------------------------------------------------
# syntax element decoders
# ------------------------------------------------------------------
def _decode_mb_type_i(rd, ps, ms, st, frame, mbx, mby, cur_slice):
    """Returns ('i4', None) | ('pcm', None) | ('i16', mb_type 1..24).
    Binarization of Table 9-36 for I slices; bin 1 is the terminate
    bin that flags I_PCM."""
    inc = 0
    if _mb_avail(frame, mbx - 1, mby, cur_slice) and \
            st.kind[mby][mbx - 1] != "i4":
        inc += 1
    if _mb_avail(frame, mbx, mby - 1, cur_slice) and \
            st.kind[mby - 1][mbx] != "i4":
        inc += 1
    if rd.decision(ps, ms, 3 + inc) == 0:
        return "i4", None
    if rd.terminate():
        return "pcm", None
    mb_type = 1
    mb_type += 12 * rd.decision(ps, ms, 6)
    if rd.decision(ps, ms, 7):
        mb_type += 4 + 4 * rd.decision(ps, ms, 8)
    mb_type += 2 * rd.decision(ps, ms, 9)
    mb_type += rd.decision(ps, ms, 10)
    return "i16", mb_type


def _decode_intra_chroma_mode(rd, ps, ms, st, frame, mbx, mby, cur_slice):
    inc = 0
    if _mb_avail(frame, mbx - 1, mby, cur_slice) and (
        st.kind[mby][mbx - 1] != "pcm"
        and st.chroma_mode[mby][mbx - 1] != 0
    ):
        inc += 1
    if _mb_avail(frame, mbx, mby - 1, cur_slice) and (
        st.kind[mby - 1][mbx] != "pcm"
        and st.chroma_mode[mby - 1][mbx] != 0
    ):
        inc += 1
    if rd.decision(ps, ms, 64 + inc) == 0:
        return 0
    if rd.decision(ps, ms, 67) == 0:
        return 1
    return 2 + rd.decision(ps, ms, 67)


def _decode_cbp(rd, ps, ms, st, frame, mbx, mby, cur_slice):
    """coded_block_pattern: 4 luma bins (one per 8x8 quadrant) + TU
    chroma suffix; neighbor increments per 9.3.3.1.1.4."""

    def luma_bit(nbx, nby, blk8):
        # condTermFlag for the neighboring 8x8 block: 0 when coded
        if not _mb_avail(frame, nbx, nby, cur_slice):
            return 0
        if st.kind[nby][nbx] == "pcm":
            return 0
        return 0 if (st.cbp_luma[nby][nbx] >> blk8) & 1 else 1

    cbp_luma = 0
    for blk8 in range(4):
        bx, by = blk8 & 1, blk8 >> 1
        # left neighbor 8x8
        if bx == 0:
            cond_a = luma_bit(mbx - 1, mby, blk8 + 1)
        else:
            cond_a = 0 if (cbp_luma >> (blk8 - 1)) & 1 else 1
        if by == 0:
            cond_b = luma_bit(mbx, mby - 1, blk8 + 2)
        else:
            cond_b = 0 if (cbp_luma >> (blk8 - 2)) & 1 else 1
        if rd.decision(ps, ms, 73 + cond_a + 2 * cond_b):
            cbp_luma |= 1 << blk8

    def chroma_cond(nbx, nby, two):
        if not _mb_avail(frame, nbx, nby, cur_slice):
            return 0
        if st.kind[nby][nbx] == "pcm":
            return 1
        c = st.cbp_chroma[nby][nbx]
        return 1 if (c == 2 if two else c != 0) else 0

    if frame.cf == 0:
        # 9.3.2.6: monochrome cbp binarization has no chroma suffix
        return cbp_luma, 0
    inc = chroma_cond(mbx - 1, mby, False) + 2 * chroma_cond(
        mbx, mby - 1, False
    )
    cbp_chroma = 0
    if rd.decision(ps, ms, 77 + inc):
        inc2 = chroma_cond(mbx - 1, mby, True) + 2 * chroma_cond(
            mbx, mby - 1, True
        )
        cbp_chroma = 1 + rd.decision(ps, ms, 81 + inc2)
    return cbp_luma, cbp_chroma


def _decode_mb_qp_delta(rd, ps, ms, st):
    inc = 1 if st.prev_qp_delta_nz else 0
    if rd.decision(ps, ms, 60 + inc) == 0:
        st.prev_qp_delta_nz = False
        return 0
    k = 1
    if rd.decision(ps, ms, 62):
        k = 2
        while rd.decision(ps, ms, 63):
            k += 1
            if k > 52:
                raise ValueError("invalid mb_qp_delta binarization")
    st.prev_qp_delta_nz = True
    # Table 9-3 mapping: 1 -> +1, 2 -> -1, 3 -> +2, ...
    return (k + 1) >> 1 if k & 1 else -(k >> 1)


def _cbf_ctx(st, frame, cat, mbx, mby, cur_slice, pos):
    """ctxIdx for coded_block_flag (9.3.3.1.1.9): 85 + 4*cat + inc,
    inc = condTermFlagA + 2*condTermFlagB. The stored-flag tables
    collapse the transBlock availability rules: PCM rows hold 1,
    never-coded blocks hold 0; an unavailable neighbor MB counts 1
    (the current MB is always intra here)."""

    def luma44(bx, by):
        nbx, nby = bx // 4, by // 4
        if not _mb_avail(frame, nbx, nby, cur_slice):
            return 1
        return st.cbf_y[by][bx]

    def luma_dc(nbx, nby):
        if not _mb_avail(frame, nbx, nby, cur_slice):
            return 1
        return st.cbf_ydc[nby][nbx]

    def chroma_dc(comp, nbx, nby):
        if not _mb_avail(frame, nbx, nby, cur_slice):
            return 1
        return st.cbf_cdc[comp][nby][nbx]

    def chroma44(comp, cx, cy):
        nbx, nby = cx // 2, cy // 2
        if not _mb_avail(frame, nbx, nby, cur_slice):
            return 1
        return st.cbf_c[comp][cy][cx]

    if cat == 0:
        a = luma_dc(mbx - 1, mby)
        b = luma_dc(mbx, mby - 1)
    elif cat in (1, 2):
        bx, by = pos
        a = luma44(bx - 1, by) if bx > 0 else 1
        b = luma44(bx, by - 1) if by > 0 else 1
    elif cat == 3:
        comp = pos
        a = chroma_dc(comp, mbx - 1, mby)
        b = chroma_dc(comp, mbx, mby - 1)
    else:
        comp, cx, cy = pos
        a = chroma44(comp, cx - 1, cy) if cx > 0 else 1
        b = chroma44(comp, cx, cy - 1) if cy > 0 else 1
    return 85 + 4 * cat + a + 2 * b


def _decode_ueg0_suffix(rd) -> int:
    """EG0 suffix of coeff_abs_level_minus1, bypass-coded: k leading
    1-bins, a 0-bin, then k bypass bits; value = 2^k - 1 + bits."""
    k = 0
    while rd.bypass():
        k += 1
        if k > 30:
            raise ValueError("invalid EG0 suffix")
    v = 0
    for _ in range(k):
        v = (v << 1) | rd.bypass()
    return (1 << k) - 1 + v


# ------------------------------------------------------------------
# macroblock + slice decode
# ------------------------------------------------------------------
def _decode_mb_cabac(rd, ps, ms, st, frame, mbx, mby, qp, cur_slice):
    kind, mb_type = _decode_mb_type_i(
        rd, ps, ms, st, frame, mbx, mby, cur_slice
    )
    st.kind[mby][mbx] = kind
    if kind == "pcm":
        # pcm_alignment_zero_bit + raw samples, then engine re-init
        rd.byte_align()
        for yy in range(16):
            for xx in range(16):
                frame.y[mby * 16 + yy][mbx * 16 + xx] = rd.u(frame.bd)
        if frame.cf:
            for plane in (frame.u, frame.v):
                for yy in range(8):
                    for xx in range(8):
                        plane[mby * 8 + yy][mbx * 8 + xx] = rd.u(frame.bd)
        for yy in range(4):
            for xx in range(4):
                frame.decoded4[mby * 4 + yy][mbx * 4 + xx] = True
                frame.nnz_y[mby * 4 + yy][mbx * 4 + xx] = 16
        # 9.3.3.1.1: PCM counts as all-coded for every ctx derivation
        for yy in range(4):
            for xx in range(4):
                st.cbf_y[mby * 4 + yy][mbx * 4 + xx] = 1
        st.cbf_ydc[mby][mbx] = 1
        for comp in range(2):
            st.cbf_cdc[comp][mby][mbx] = 1
            for yy in range(2):
                for xx in range(2):
                    st.cbf_c[comp][mby * 2 + yy][mbx * 2 + xx] = 1
                    frame.nnz_c[comp][mby * 2 + yy][mbx * 2 + xx] = 16
        st.cbp_luma[mby][mbx] = 15
        st.cbp_chroma[mby][mbx] = 2
        st.prev_qp_delta_nz = False
        frame.mb_qp[mby][mbx] = 0
        rd.init_arith()
        return qp

    if kind == "i4":
        if frame.pps.get("transform_8x8_mode") and rd.decision(
            ps, ms, _t8_flag_ctx(frame, mbx, mby, cur_slice)
        ):
            return _decode_mb_i8x8_cabac(
                rd, ps, ms, st, frame, mbx, mby, qp, cur_slice
            )
        frame.is_i4[mby][mbx] = True
        modes = []
        for blk in range(16):
            dx, dy = _BLK_XY[blk]
            bx, by = mbx * 4 + dx, mby * 4 + dy
            pred = _pred_mode_4x4(frame, bx, by, cur_slice)
            if rd.decision(ps, ms, 68):
                mode = pred
            else:
                rem = (
                    rd.decision(ps, ms, 69)
                    + 2 * rd.decision(ps, ms, 69)
                    + 4 * rd.decision(ps, ms, 69)
                )
                mode = rem if rem < pred else rem + 1
            modes.append(mode)
            frame.mode4[by][bx] = mode
        chroma_mode = _decode_intra_chroma_mode(
            rd, ps, ms, st, frame, mbx, mby, cur_slice
        ) if frame.cf else 0
        st.chroma_mode[mby][mbx] = chroma_mode
        cbp_luma, cbp_chroma = _decode_cbp(
            rd, ps, ms, st, frame, mbx, mby, cur_slice
        )
        pred_mode = None
        dc_present = False
    else:
        pred_mode = (mb_type - 1) % 4
        cbp_chroma = ((mb_type - 1) // 4) % 3
        cbp_luma = 15 if (mb_type - 1) >= 12 else 0
        chroma_mode = _decode_intra_chroma_mode(
            rd, ps, ms, st, frame, mbx, mby, cur_slice
        ) if frame.cf else 0
        st.chroma_mode[mby][mbx] = chroma_mode
        modes = None
        dc_present = True
    st.cbp_luma[mby][mbx] = cbp_luma
    st.cbp_chroma[mby][mbx] = cbp_chroma

    if cbp_luma or cbp_chroma or kind == "i16":
        off = frame.qp_off
        qp = ((qp + _decode_mb_qp_delta(rd, ps, ms, st) + 52
               + 2 * off) % (52 + off)) - off
    else:
        st.prev_qp_delta_nz = False
    frame.mb_qp[mby][mbx] = qp

    # --- residuals (same block order as the CAVLC front-end) ---
    dc_coeffs = [0] * 16
    if dc_present:
        ctx = _cbf_ctx(st, frame, 0, mbx, mby, cur_slice, None)
        if rd.decision(ps, ms, ctx):
            st.cbf_ydc[mby][mbx] = 1
            dc_coeffs = _decode_block(rd, ps, ms, 0)

    blocks = []
    cat = 1 if kind == "i16" else 2
    for blk in range(16):
        dx, dy = _BLK_XY[blk]
        bx, by = mbx * 4 + dx, mby * 4 + dy
        nlen = MAX_COEFF[cat]
        if cbp_luma & (1 << (blk // 4)):
            ctx = _cbf_ctx(st, frame, cat, mbx, mby, cur_slice, (bx, by))
            if rd.decision(ps, ms, ctx):
                st.cbf_y[by][bx] = 1
                blocks.append(_decode_block(rd, ps, ms, cat))
                continue
        blocks.append([0] * nlen)

    dcs = {0: [0] * 4, 1: [0] * 4}
    acs = {0: [[0] * 15 for _ in range(4)], 1: [[0] * 15 for _ in range(4)]}
    if cbp_chroma:
        for comp in range(2):
            ctx = _cbf_ctx(st, frame, 3, mbx, mby, cur_slice, comp)
            if rd.decision(ps, ms, ctx):
                st.cbf_cdc[comp][mby][mbx] = 1
                dcs[comp] = _decode_block(rd, ps, ms, 3)
    if cbp_chroma == 2:
        for comp in range(2):
            for blk in range(4):
                cx = mbx * 2 + (blk & 1)
                cy = mby * 2 + (blk >> 1)
                ctx = _cbf_ctx(
                    st, frame, 4, mbx, mby, cur_slice, (comp, cx, cy)
                )
                if rd.decision(ps, ms, ctx):
                    st.cbf_c[comp][cy][cx] = 1
                    acs[comp][blk] = _decode_block(rd, ps, ms, 4)

    if kind == "i4":
        _recon_i4x4_luma(frame, mbx, mby, modes, blocks, qp, cur_slice)
    else:
        _recon_i16x16_luma(
            frame, mbx, mby, pred_mode, dc_coeffs, blocks, qp, cur_slice
        )
    if frame.cf:
        _recon_chroma(frame, mbx, mby, chroma_mode, (dcs, acs), qp,
                      cur_slice)
    return qp


def _decode_block(rd, ps, ms, cat):
    """significance map (9.3.3.1.3) + levels in reverse scan order.
    Returns MAX_COEFF[cat] levels in scan order."""
    n = MAX_COEFF[cat]
    sig_base = 105 + SIG_OFF[cat]
    last_base = 166 + SIG_OFF[cat]
    npos = []
    ended = False
    for i in range(n - 1):
        inc = min(i, 2) if cat == 3 else i
        if rd.decision(ps, ms, sig_base + inc):
            npos.append(i)
            if rd.decision(ps, ms, last_base + inc):
                ended = True
                break
    if not ended:
        npos.append(n - 1)
    coeffs = [0] * n
    abs_base = 227 + ABS_OFF[cat]
    num_eq1 = 0
    num_gt1 = 0
    cap = 3 if cat == 3 else 4
    for pos in reversed(npos):
        inc0 = 0 if num_gt1 else min(4, 1 + num_eq1)
        if rd.decision(ps, ms, abs_base + inc0) == 0:
            level = 1
            num_eq1 += 1
        else:
            inc_rest = abs_base + 5 + min(cap, num_gt1)
            prefix = 1
            while prefix < 14 and rd.decision(ps, ms, inc_rest):
                prefix += 1
            level = prefix + 1
            if prefix == 14:
                level = 15 + _decode_ueg0_suffix(rd)
            num_gt1 += 1
        if rd.bypass():
            level = -level
        coeffs[pos] = level
    return coeffs


def decode_slice_cabac(br, frame, slice_idx, header) -> int:
    """CABAC twin of h264._decode_slice: decode I-slice macroblocks
    from the BitReader's current position until end_of_slice_flag.
    Returns the next MB address (== mb_w*mb_h when the picture is
    complete)."""
    if header.get("transform_8x8"):
        raise NotImplementedError("transform_size_8x8_flag streams")
    br.byte_align()  # cabac_alignment_one_bit(s)
    rd = CabacReader(br.data, br.pos)
    rd.init_arith()
    pstate, mps = init_contexts(header["qp"])
    # per-PICTURE bookkeeping shared across this picture's slices
    # (ctx lookups never read across slice boundaries — _mb_avail
    # gates every access — but the arrays live on the frame)
    state = getattr(frame, "_cabac_pic_state", None)
    if state is None:
        state = _SliceState(frame)
        frame._cabac_pic_state = state
    state.prev_qp_delta_nz = False

    qp = header["qp"]
    mb_addr = header["first_mb"]
    n_mbs = frame.mb_w * frame.mb_h
    while True:
        if mb_addr >= n_mbs:
            raise ValueError("invalid H.264: MB address overflow")
        mbx, mby = mb_addr % frame.mb_w, mb_addr // frame.mb_w
        frame.mb_slice[mby][mbx] = slice_idx
        qp = _decode_mb_cabac(
            rd, pstate, mps, state, frame, mbx, mby, qp, slice_idx
        )
        mb_addr += 1
        if rd.terminate():  # end_of_slice_flag
            break
    br.pos = rd.pos
    return mb_addr


# ------------------------------------------------------------------
# High-profile 8x8 transform (ctxBlockCat 5; ctx 399-435 frame-coded)
# ------------------------------------------------------------------
# transform_size_8x8_flag: ctx 399 + leftFlag + aboveFlag
_fill(399, [(31, 21), (31, 31), (25, 50)])
# significant_coeff_flag 8x8 frame: ctx 402..416 (15 contexts)
_fill(402, [(-17, 120), (-20, 112), (-18, 114), (-11, 85),
            (-15, 92), (-14, 89), (-26, 71), (-15, 81),
            (-14, 80), (0, 68), (-14, 70), (-24, 56),
            (-23, 68), (-24, 50), (-11, 74)])
# last_significant_coeff_flag 8x8 frame: ctx 417..425 (9 contexts)
_fill(417, [(23, -13), (26, -13), (40, -15), (49, -14), (44, 3),
            (45, 6), (44, 34), (33, 54), (19, 82)])
# coeff_abs_level_minus1 8x8: ctx 426..435 (10 contexts)
_fill(426, [(-3, 75), (-1, 23), (1, 34), (1, 43), (0, 54),
            (-2, 55), (0, 61), (1, 64), (0, 68), (-9, 92)])

# Table 9-43 ctxIdxInc maps for the 64-coefficient significance scan
# (frame-coded): levelListIdx 0..62
SIG_MAP_8X8 = [
    0, 1, 2, 3, 4, 5, 5, 4, 4, 3, 3, 4, 4, 4, 5, 5,
    4, 4, 4, 4, 3, 3, 6, 7, 7, 7, 8, 9, 10, 9, 8, 7,
    7, 6, 11, 12, 13, 11, 6, 7, 8, 9, 14, 10, 9, 8, 6, 11,
    12, 13, 11, 6, 9, 14, 10, 9, 11, 12, 13, 11, 14, 10, 12,
]
LAST_MAP_8X8 = [
    0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 2, 2, 2, 2, 3, 3, 3, 3, 3, 3, 3, 3, 3,
    4, 4, 4, 4, 4, 4, 4, 5, 5, 5, 6, 6, 6, 7, 7,
]


def _decode_block_8x8(rd, ps, ms):
    """ctxBlockCat 5 residual: 64-coefficient significance map with
    the Table 9-43 context maps + levels (abs ctx base 426, the
    standard increments, cap 4). No coded_block_flag exists for
    4:2:0 luma 8x8 blocks — presence is the CBP bit, and the encoder
    guarantees a coded block is non-empty."""
    npos = []
    ended = False
    for i in range(63):
        if rd.decision(ps, ms, 402 + SIG_MAP_8X8[i]):
            npos.append(i)
            if rd.decision(ps, ms, 417 + LAST_MAP_8X8[i]):
                ended = True
                break
    if not ended:
        npos.append(63)
    coeffs = [0] * 64
    num_eq1 = 0
    num_gt1 = 0
    for pos in reversed(npos):
        inc0 = 0 if num_gt1 else min(4, 1 + num_eq1)
        if rd.decision(ps, ms, 426 + inc0) == 0:
            level = 1
            num_eq1 += 1
        else:
            ctx_rest = 426 + 5 + min(4, num_gt1)
            prefix = 1
            while prefix < 14 and rd.decision(ps, ms, ctx_rest):
                prefix += 1
            level = prefix + 1
            if prefix == 14:
                level = 15 + _decode_ueg0_suffix(rd)
            num_gt1 += 1
        if rd.bypass():
            level = -level
        coeffs[pos] = level
    return coeffs


def _decode_mb_i8x8_cabac(rd, ps, ms, st, frame, mbx, mby, qp, cur_slice):
    """I_NxN with transform_size_8x8_flag=1 under CABAC (invoked by
    _decode_mb_cabac after the flag bin)."""
    from openset_spark.pipeline.h264 import (
        _pred_mode_8x8,
        _recon_i8x8_luma,
    )

    frame.is_i4[mby][mbx] = True
    modes = []
    for b8 in range(4):
        b8x = mbx * 2 + (b8 & 1)
        b8y = mby * 2 + (b8 >> 1)
        pred = _pred_mode_8x8(frame, b8x, b8y, cur_slice)
        if rd.decision(ps, ms, 68):
            mode = pred
        else:
            rem = (
                rd.decision(ps, ms, 69)
                + 2 * rd.decision(ps, ms, 69)
                + 4 * rd.decision(ps, ms, 69)
            )
            mode = rem if rem < pred else rem + 1
        modes.append(mode)
        for cy in range(2):
            for cx in range(2):
                frame.mode4[b8y * 2 + cy][b8x * 2 + cx] = mode
    chroma_mode = _decode_intra_chroma_mode(
        rd, ps, ms, st, frame, mbx, mby, cur_slice
    ) if frame.cf else 0
    st.chroma_mode[mby][mbx] = chroma_mode
    cbp_luma, cbp_chroma = _decode_cbp(
        rd, ps, ms, st, frame, mbx, mby, cur_slice
    )
    st.cbp_luma[mby][mbx] = cbp_luma
    st.cbp_chroma[mby][mbx] = cbp_chroma
    if cbp_luma or cbp_chroma:
        off = frame.qp_off
        qp = ((qp + _decode_mb_qp_delta(rd, ps, ms, st) + 52
               + 2 * off) % (52 + off)) - off
    else:
        st.prev_qp_delta_nz = False
    frame.mb_qp[mby][mbx] = qp

    blocks = []
    for b8 in range(4):
        if cbp_luma & (1 << b8):
            blocks.append(_decode_block_8x8(rd, ps, ms))
            # 9.3.3.1.1.9: cells of a coded 8x8 block count as coded
            # for later coded_block_flag neighbor derivations
            cbf = 1
        else:
            blocks.append([0] * 64)
            cbf = 0
        dx0, dy0 = _BLK_XY[b8 * 4]
        for cy in range(2):
            for cx in range(2):
                st.cbf_y[mby * 4 + dy0 + cy][mbx * 4 + dx0 + cx] = cbf

    dcs = {0: [0] * 4, 1: [0] * 4}
    acs = {0: [[0] * 15 for _ in range(4)], 1: [[0] * 15 for _ in range(4)]}
    if cbp_chroma:
        for comp in range(2):
            ctx = _cbf_ctx(st, frame, 3, mbx, mby, cur_slice, comp)
            if rd.decision(ps, ms, ctx):
                st.cbf_cdc[comp][mby][mbx] = 1
                dcs[comp] = _decode_block(rd, ps, ms, 3)
    if cbp_chroma == 2:
        for comp in range(2):
            for blk in range(4):
                cx = mbx * 2 + (blk & 1)
                cy = mby * 2 + (blk >> 1)
                ctx = _cbf_ctx(
                    st, frame, 4, mbx, mby, cur_slice, (comp, cx, cy)
                )
                if rd.decision(ps, ms, ctx):
                    st.cbf_c[comp][cy][cx] = 1
                    acs[comp][blk] = _decode_block(rd, ps, ms, 4)

    _recon_i8x8_luma(frame, mbx, mby, modes, blocks, qp, cur_slice)
    if frame.cf:
        _recon_chroma(frame, mbx, mby, chroma_mode, (dcs, acs), qp,
                      cur_slice)
    return qp


def _t8_flag_ctx(frame, mbx, mby, cur_slice) -> int:
    inc = 0
    if _mb_avail(frame, mbx - 1, mby, cur_slice) and frame.mb_t8[mby][mbx - 1]:
        inc += 1
    if _mb_avail(frame, mbx, mby - 1, cur_slice) and frame.mb_t8[mby - 1][mbx]:
        inc += 1
    return 399 + inc
