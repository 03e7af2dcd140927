"""CABAC I-frame round-trips (VERDICT r8 ask #6).

An independent in-test CABAC *encoder* (the 9.3.4 arithmetic encoder
+ binarizations, written here from the encoding-side clauses) encodes
the same macroblock specs the CAVLC tests use; the decoder must
reproduce (a) the CAVLC decode of the identical specs bit-for-bit
(cross-front-end consistency — entropy coding must not change one
pixel) and (b) the independent numpy reconstruction + deblocking
model. The engine's bit accounting (first-bit suppression vs the
9-bit init window) is exercised by I_PCM macroblocks, which leave and
re-enter the arithmetic bitstream mid-slice."""

from __future__ import annotations

import numpy as np

from openset_spark.pipeline import h264 as H
from openset_spark.pipeline import h264_cabac as C
from test_h264 import _nal, _pps_nal, _rand_mb, _ref_decode, _sps_nal
from test_h264 import encode_frame as encode_frame_cavlc
from test_h264_deblock import ref_deblock


# ------------------------------------------------------------------
# arithmetic encoder (9.3.4) — encoding-side twin of C.CabacReader
# ------------------------------------------------------------------
class CabacWriter:
    def __init__(self, bits: list[int]):
        self.bits = bits  # shared output bit list (header already in)
        self.low = 0
        self.range = 510
        self.first = True
        self.outstanding = 0

    def _put(self, b: int):
        if self.first:
            self.first = False
        else:
            self.bits.append(b)
        while self.outstanding:
            self.bits.append(1 - b)
            self.outstanding -= 1

    def _renorm(self):
        while self.range < 256:
            if self.low >= 512:
                self._put(1)
                self.low -= 512
            elif self.low < 256:
                self._put(0)
            else:
                self.outstanding += 1
                self.low -= 256
            self.low <<= 1
            self.range <<= 1

    def decision(self, ps, ms, ctx: int, b: int):
        st = ps[ctx]
        r_lps = C.RANGE_LPS[st][(self.range >> 6) & 3]
        self.range -= r_lps
        if b != ms[ctx]:
            self.low += self.range
            self.range = r_lps
            if st == 0:
                ms[ctx] = 1 - ms[ctx]
            ps[ctx] = C.TRANS_LPS[st]
        else:
            ps[ctx] = C.TRANS_MPS[st]
        self._renorm()

    def bypass(self, b: int):
        self.low <<= 1
        if b:
            self.low += self.range
        if self.low >= 1024:
            self._put(1)
            self.low -= 1024
        elif self.low < 512:
            self._put(0)
        else:
            self.outstanding += 1
            self.low -= 512

    def terminate(self, b: int):
        self.range -= 2
        if b:
            self.low += self.range
            self.flush()
        else:
            self._renorm()

    def flush(self):
        self.range = 2
        self._renorm()
        self._put((self.low >> 9) & 1)
        # WriteBits(((codILow >> 7) & 3) | 1, 2): raw appends
        self.bits.append((self.low >> 8) & 1)
        self.bits.append(1)

    def reinit(self):
        self.low = 0
        self.range = 510
        self.first = True
        self.outstanding = 0


# ------------------------------------------------------------------
# CABAC frame encoder
# ------------------------------------------------------------------
def _coeff_lists(mb, kind):
    """The scan-order coefficient lists the CAVLC encoder codes, in
    CABAC block order: (luma_dc 16 | None, [16 luma lists], chroma
    dcs {c: 4}, chroma acs {c: [4 x 15]})."""
    if kind == "i16":
        dc = list(mb["luma_dc"])
        luma = [list(mb["luma"][b]) for b in range(16)]
    else:
        dc = None
        luma = [list(mb["luma"][b]) for b in range(16)]
    dcs = {c: list(mb["chroma_dc"][c]) for c in range(2)}
    acs = {c: [list(mb["chroma_ac"][c][b]) for b in range(4)]
           for c in range(2)}
    return dc, luma, dcs, acs


def _encode_block_cabac(w, ps, ms, cat, coeffs):
    """cbf is already coded 1; code significance map + levels."""
    n = C.MAX_COEFF[cat]
    sig_base = 105 + C.SIG_OFF[cat]
    last_base = 166 + C.SIG_OFF[cat]
    npos = [i for i, v in enumerate(coeffs) if v]
    assert npos, "cbf=1 block must have a nonzero coefficient"
    hi = npos[-1]
    for i in range(n - 1):
        inc = min(i, 2) if cat == 3 else i
        sig = 1 if coeffs[i] else 0
        w.decision(ps, ms, sig_base + inc, sig)
        if sig:
            last = 1 if i == hi else 0
            w.decision(ps, ms, last_base + inc, last)
            if last:
                break
    abs_base = 227 + C.ABS_OFF[cat]
    num_eq1 = 0
    num_gt1 = 0
    cap = 3 if cat == 3 else 4
    for pos in reversed(npos):
        level = abs(coeffs[pos])
        inc0 = 0 if num_gt1 else min(4, 1 + num_eq1)
        if level == 1:
            w.decision(ps, ms, abs_base + inc0, 0)
            num_eq1 += 1
        else:
            w.decision(ps, ms, abs_base + inc0, 1)
            inc_rest = abs_base + 5 + min(cap, num_gt1)
            m1 = level - 1
            prefix = min(m1, 14)
            # TU prefix after bin0: (prefix - 1) ones, then a
            # terminating 0 only when the prefix is below cMax=14
            for _ in range(prefix - 1):
                w.decision(ps, ms, inc_rest, 1)
            if prefix < 14:
                w.decision(ps, ms, inc_rest, 0)
            else:
                # EG0 suffix of (m1 - 14), bypass coded
                v = m1 - 14
                k = 0
                while v >= (1 << (k + 1)) - 1:
                    k += 1
                for _ in range(k):
                    w.bypass(1)
                w.bypass(0)
                rem = v - ((1 << k) - 1)
                for i in range(k - 1, -1, -1):
                    w.bypass((rem >> i) & 1)
            num_gt1 += 1
        w.bypass(1 if coeffs[pos] < 0 else 0)


def _encode_mb_cabac(w, ps, ms, st, frame, mbx, mby, qp, si, mb):
    kind = mb["type"]
    # the decoder records 8x8-transform MBs as I_NxN ("i4") — the
    # mb_type bin-0 neighbor context must see the same value
    st.kind[mby][mbx] = "i4" if kind == "i8" else kind
    inc = 0
    if C._mb_avail(frame, mbx - 1, mby, si) and st.kind[mby][mbx - 1] != "i4":
        inc += 1
    if C._mb_avail(frame, mbx, mby - 1, si) and st.kind[mby - 1][mbx] != "i4":
        inc += 1
    if kind == "pcm":
        w.decision(ps, ms, 3 + inc, 1)
        w.terminate(1)  # I_PCM flag + EncodeFlush
        while len(w.bits) % 8:  # pcm_alignment_zero_bit(s)
            w.bits.append(0)
        y, u, v = mb["pcm"]
        for row in np.asarray(y).reshape(16, 16):
            for px in row:
                for i in range(frame.bd - 1, -1, -1):
                    w.bits.append((int(px) >> i) & 1)
        if frame.cf:
            for plane in (u, v):
                for row in np.asarray(plane).reshape(8, 8):
                    for px in row:
                        for i in range(frame.bd - 1, -1, -1):
                            w.bits.append((int(px) >> i) & 1)
        w.reinit()
        for yy in range(4):
            for xx in range(4):
                st.cbf_y[mby * 4 + yy][mbx * 4 + xx] = 1
                frame.decoded4[mby * 4 + yy][mbx * 4 + xx] = True
        st.cbf_ydc[mby][mbx] = 1
        for comp in range(2):
            st.cbf_cdc[comp][mby][mbx] = 1
            for yy in range(2):
                for xx in range(2):
                    st.cbf_c[comp][mby * 2 + yy][mbx * 2 + xx] = 1
        st.cbp_luma[mby][mbx] = 15
        st.cbp_chroma[mby][mbx] = 2
        st.prev_qp_delta_nz = False
        return qp

    if kind == "i8":
        w.decision(ps, ms, 3 + inc, 0)  # I_NxN
        w.decision(ps, ms, C._t8_flag_ctx(frame, mbx, mby, si), 1)
        return _encode_mb_i8_cabac(w, ps, ms, st, frame, mbx, mby, qp,
                                   si, mb)
    if kind == "i4":
        w.decision(ps, ms, 3 + inc, 0)
        if frame.pps.get("transform_8x8_mode"):
            w.decision(ps, ms, C._t8_flag_ctx(frame, mbx, mby, si), 0)
        frame.is_i4[mby][mbx] = True
        for blk in range(16):
            dx, dy = H._BLK_XY[blk]
            bx, by = mbx * 4 + dx, mby * 4 + dy
            pred = H._pred_mode_4x4(frame, bx, by, si)
            mode = mb["modes"][blk]
            if mode == pred:
                w.decision(ps, ms, 68, 1)
            else:
                w.decision(ps, ms, 68, 0)
                rem = mode if mode < pred else mode - 1
                w.decision(ps, ms, 69, rem & 1)
                w.decision(ps, ms, 69, (rem >> 1) & 1)
                w.decision(ps, ms, 69, (rem >> 2) & 1)
            frame.mode4[by][bx] = mode
        cbp_luma = mb["cbp_luma"]
        cbp_chroma = mb["cbp_chroma"]
    else:
        w.decision(ps, ms, 3 + inc, 1)
        w.terminate(0)
        cbp_luma = mb["cbp_luma"]
        cbp_chroma = mb["cbp_chroma"]
        w.decision(ps, ms, 6, 1 if cbp_luma else 0)
        if cbp_chroma:
            w.decision(ps, ms, 7, 1)
            w.decision(ps, ms, 8, cbp_chroma - 1)
        else:
            w.decision(ps, ms, 7, 0)
        pred16 = mb["modes"]
        w.decision(ps, ms, 9, (pred16 >> 1) & 1)
        w.decision(ps, ms, 10, pred16 & 1)

    # intra_chroma_pred_mode (TU cMax 3)
    cm = mb["chroma_mode"] if frame.cf else 0
    if frame.cf:
        cinc = 0
        if C._mb_avail(frame, mbx - 1, mby, si) and (
            st.kind[mby][mbx - 1] != "pcm"
            and st.chroma_mode[mby][mbx - 1] != 0
        ):
            cinc += 1
        if C._mb_avail(frame, mbx, mby - 1, si) and (
            st.kind[mby - 1][mbx] != "pcm"
            and st.chroma_mode[mby - 1][mbx] != 0
        ):
            cinc += 1
        if cm == 0:
            w.decision(ps, ms, 64 + cinc, 0)
        else:
            w.decision(ps, ms, 64 + cinc, 1)
            w.decision(ps, ms, 67, 0 if cm == 1 else 1)
            if cm > 1:
                w.decision(ps, ms, 67, cm - 2)
    st.chroma_mode[mby][mbx] = cm

    if kind == "i4":
        # coded_block_pattern
        def luma_bit(nbx, nby, blk8):
            if not C._mb_avail(frame, nbx, nby, si):
                return 0
            if st.kind[nby][nbx] == "pcm":
                return 0
            return 0 if (st.cbp_luma[nby][nbx] >> blk8) & 1 else 1

        coded = 0
        for blk8 in range(4):
            bx8, by8 = blk8 & 1, blk8 >> 1
            if bx8 == 0:
                cond_a = luma_bit(mbx - 1, mby, blk8 + 1)
            else:
                cond_a = 0 if (coded >> (blk8 - 1)) & 1 else 1
            if by8 == 0:
                cond_b = luma_bit(mbx, mby - 1, blk8 + 2)
            else:
                cond_b = 0 if (coded >> (blk8 - 2)) & 1 else 1
            bit = (cbp_luma >> blk8) & 1
            w.decision(ps, ms, 73 + cond_a + 2 * cond_b, bit)
            coded |= bit << blk8

        def chroma_cond(nbx, nby, two):
            if not C._mb_avail(frame, nbx, nby, si):
                return 0
            if st.kind[nby][nbx] == "pcm":
                return 1
            c = st.cbp_chroma[nby][nbx]
            return 1 if (c == 2 if two else c != 0) else 0

        if frame.cf:
            ci = chroma_cond(mbx - 1, mby, False) + 2 * chroma_cond(
                mbx, mby - 1, False
            )
            w.decision(ps, ms, 77 + ci, 1 if cbp_chroma else 0)
            if cbp_chroma:
                ci2 = chroma_cond(mbx - 1, mby, True) + 2 * chroma_cond(
                    mbx, mby - 1, True
                )
                w.decision(ps, ms, 81 + ci2, cbp_chroma - 1)
    st.cbp_luma[mby][mbx] = cbp_luma
    st.cbp_chroma[mby][mbx] = cbp_chroma

    # mb_qp_delta
    if cbp_luma or cbp_chroma or kind == "i16":
        delta = mb["qp_delta"]
        k = 2 * delta - 1 if delta > 0 else -2 * delta
        qinc = 1 if st.prev_qp_delta_nz else 0
        if k == 0:
            w.decision(ps, ms, 60 + qinc, 0)
            st.prev_qp_delta_nz = False
        else:
            w.decision(ps, ms, 60 + qinc, 1)
            if k == 1:
                w.decision(ps, ms, 62, 0)
            else:
                w.decision(ps, ms, 62, 1)
                for _ in range(k - 2):
                    w.decision(ps, ms, 63, 1)
                w.decision(ps, ms, 63, 0)
            st.prev_qp_delta_nz = True
        off = frame.qp_off
        qp = ((qp + delta + 52 + 2 * off) % (52 + off)) - off
    else:
        st.prev_qp_delta_nz = False
    frame.mb_qp[mby][mbx] = qp

    # residuals
    dc, luma, dcs, acs = _coeff_lists(mb, kind)
    if kind == "i16":
        cbf = 1 if any(dc) else 0
        ctx = C._cbf_ctx(st, frame, 0, mbx, mby, si, None)
        w.decision(ps, ms, ctx, cbf)
        if cbf:
            st.cbf_ydc[mby][mbx] = 1
            _encode_block_cabac(w, ps, ms, 0, dc)
    cat = 1 if kind == "i16" else 2
    for blk in range(16):
        dx, dy = H._BLK_XY[blk]
        bx, by = mbx * 4 + dx, mby * 4 + dy
        if cbp_luma & (1 << (blk // 4)):
            coeffs = luma[blk]
            cbf = 1 if any(coeffs) else 0
            ctx = C._cbf_ctx(st, frame, cat, mbx, mby, si, (bx, by))
            w.decision(ps, ms, ctx, cbf)
            if cbf:
                st.cbf_y[by][bx] = 1
                _encode_block_cabac(w, ps, ms, cat, coeffs)
    if cbp_chroma:
        for comp in range(2):
            cbf = 1 if any(dcs[comp]) else 0
            ctx = C._cbf_ctx(st, frame, 3, mbx, mby, si, comp)
            w.decision(ps, ms, ctx, cbf)
            if cbf:
                st.cbf_cdc[comp][mby][mbx] = 1
                _encode_block_cabac(w, ps, ms, 3, dcs[comp])
    if cbp_chroma == 2:
        for comp in range(2):
            for blk in range(4):
                cx = mbx * 2 + (blk & 1)
                cy = mby * 2 + (blk >> 1)
                coeffs = acs[comp][blk]
                cbf = 1 if any(coeffs) else 0
                ctx = C._cbf_ctx(st, frame, 4, mbx, mby, si, (comp, cx, cy))
                w.decision(ps, ms, ctx, cbf)
                if cbf:
                    st.cbf_c[comp][cy][cx] = 1
                    _encode_block_cabac(w, ps, ms, 4, coeffs)
    # mark decoded for above-right availability bookkeeping
    for yy in range(4):
        for xx in range(4):
            frame.decoded4[mby * 4 + yy][mbx * 4 + xx] = True
    return qp


def encode_frame_cabac(mb_w, mb_h, mbs, pic_init_qp=26, chroma_offset=0,
                       crop=(0, 0, 0, 0), slice_starts=(0,),
                       deblock=(1, 0, 0), transform8x8=0,
                       chroma_format=1, bit_depth=8):
    """CABAC twin of test_h264.encode_frame: same macroblock specs,
    entropy_coding_mode_flag = 1."""
    from test_h264 import BW

    sps_nal = _sps_nal(mb_w, mb_h, crop, chroma_format, bit_depth)
    sps = H.parse_sps(H.rbsp_unescape(sps_nal[5:]))
    pps_nal = _pps_nal(pic_init_qp, chroma_offset, entropy=1,
                       transform8x8=transform8x8)
    pps = H.parse_pps(H.rbsp_unescape(pps_nal[5:]))
    frame = H._Frame(sps, pps)
    st = C._SliceState(frame)
    out = bytearray()
    out += sps_nal
    out += pps_nal

    n_mbs = mb_w * mb_h
    starts = list(slice_starts) + [n_mbs]
    for si in range(len(slice_starts)):
        first, endmb = starts[si], starts[si + 1]
        bw = BW()
        bw.ue(first)
        bw.ue(7)  # slice_type I
        bw.ue(0)  # pps_id
        bw.u(0, 4)  # frame_num
        bw.ue(0)  # idr_pic_id
        bw.u(0, 4)  # poc lsb
        bw.u(0, 1)
        bw.u(0, 1)
        bw.se(0)  # slice_qp_delta
        idc, a2, b2 = deblock[si] if isinstance(deblock, list) else deblock
        bw.ue(idc)
        if idc != 1:
            bw.se(a2)
            bw.se(b2)
        while len(bw.bits) % 8:  # cabac_alignment_one_bit
            bw.bits.append(1)
        w = CabacWriter(bw.bits)
        ps, ms = C.init_contexts(pic_init_qp)
        st.prev_qp_delta_nz = False
        qp = pic_init_qp
        for addr in range(first, endmb):
            mbx, mby = addr % mb_w, addr // mb_w
            frame.mb_slice[mby][mbx] = si
            qp = _encode_mb_cabac(
                w, ps, ms, st, frame, mbx, mby, qp, si, mbs[addr]
            )
            w.terminate(1 if addr == endmb - 1 else 0)  # end_of_slice
        while len(bw.bits) % 8:  # trailing alignment after the flush
            bw.bits.append(0)
        out += _nal(5, bw.rbsp(trailing_stop=False))
    return bytes(out)


def _encode_block8x8_cabac(w, ps, ms, coeffs):
    """ctxBlockCat 5: Table 9-43 significance maps + level bins."""
    npos = [i for i, v in enumerate(coeffs) if v]
    assert npos, "CBP-coded 8x8 block must be non-empty (no cbf bin)"
    hi = npos[-1]
    for i in range(63):
        sig = 1 if coeffs[i] else 0
        w.decision(ps, ms, 402 + C.SIG_MAP_8X8[i], sig)
        if sig:
            last = 1 if i == hi else 0
            w.decision(ps, ms, 417 + C.LAST_MAP_8X8[i], last)
            if last:
                break
    num_eq1 = 0
    num_gt1 = 0
    for pos in reversed(npos):
        level = abs(coeffs[pos])
        inc0 = 0 if num_gt1 else min(4, 1 + num_eq1)
        if level == 1:
            w.decision(ps, ms, 426 + inc0, 0)
            num_eq1 += 1
        else:
            w.decision(ps, ms, 426 + inc0, 1)
            ctx_rest = 426 + 5 + min(4, num_gt1)
            m1 = level - 1
            prefix = min(m1, 14)
            for _ in range(prefix - 1):
                w.decision(ps, ms, ctx_rest, 1)
            if prefix < 14:
                w.decision(ps, ms, ctx_rest, 0)
            else:
                v = m1 - 14
                k = 0
                while v >= (1 << (k + 1)) - 1:
                    k += 1
                for _ in range(k):
                    w.bypass(1)
                w.bypass(0)
                rem = v - ((1 << k) - 1)
                for i in range(k - 1, -1, -1):
                    w.bypass((rem >> i) & 1)
            num_gt1 += 1
        w.bypass(1 if coeffs[pos] < 0 else 0)


def _encode_mb_i8_cabac(w, ps, ms, st, frame, mbx, mby, qp, si, mb):
    """Mirror of C._decode_mb_i8x8_cabac (mb_type + flag bins already
    written by the caller)."""
    frame.is_i4[mby][mbx] = True
    frame.mb_t8[mby][mbx] = True
    for b8 in range(4):
        b8x = mbx * 2 + (b8 & 1)
        b8y = mby * 2 + (b8 >> 1)
        pred = H._pred_mode_8x8(frame, b8x, b8y, si)
        mode = mb["modes"][b8]
        if mode == pred:
            w.decision(ps, ms, 68, 1)
        else:
            w.decision(ps, ms, 68, 0)
            rem = mode if mode < pred else mode - 1
            w.decision(ps, ms, 69, rem & 1)
            w.decision(ps, ms, 69, (rem >> 1) & 1)
            w.decision(ps, ms, 69, (rem >> 2) & 1)
        for cy in range(2):
            for cx in range(2):
                frame.mode4[b8y * 2 + cy][b8x * 2 + cx] = mode
    # intra_chroma_pred_mode
    cm = mb["chroma_mode"] if frame.cf else 0
    if frame.cf:
        cinc = 0
        if C._mb_avail(frame, mbx - 1, mby, si) and (
            st.kind[mby][mbx - 1] != "pcm"
            and st.chroma_mode[mby][mbx - 1] != 0
        ):
            cinc += 1
        if C._mb_avail(frame, mbx, mby - 1, si) and (
            st.kind[mby - 1][mbx] != "pcm"
            and st.chroma_mode[mby - 1][mbx] != 0
        ):
            cinc += 1
        if cm == 0:
            w.decision(ps, ms, 64 + cinc, 0)
        else:
            w.decision(ps, ms, 64 + cinc, 1)
            w.decision(ps, ms, 67, 0 if cm == 1 else 1)
            if cm > 1:
                w.decision(ps, ms, 67, cm - 2)
    st.chroma_mode[mby][mbx] = cm

    cbp_luma = mb["cbp_luma"]
    cbp_chroma = mb["cbp_chroma"]

    def luma_bit(nbx, nby, blk8):
        if not C._mb_avail(frame, nbx, nby, si):
            return 0
        if st.kind[nby][nbx] == "pcm":
            return 0
        return 0 if (st.cbp_luma[nby][nbx] >> blk8) & 1 else 1

    coded = 0
    for blk8 in range(4):
        bx8, by8 = blk8 & 1, blk8 >> 1
        if bx8 == 0:
            cond_a = luma_bit(mbx - 1, mby, blk8 + 1)
        else:
            cond_a = 0 if (coded >> (blk8 - 1)) & 1 else 1
        if by8 == 0:
            cond_b = luma_bit(mbx, mby - 1, blk8 + 2)
        else:
            cond_b = 0 if (coded >> (blk8 - 2)) & 1 else 1
        bit = (cbp_luma >> blk8) & 1
        w.decision(ps, ms, 73 + cond_a + 2 * cond_b, bit)
        coded |= bit << blk8

    def chroma_cond(nbx, nby, two):
        if not C._mb_avail(frame, nbx, nby, si):
            return 0
        if st.kind[nby][nbx] == "pcm":
            return 1
        c = st.cbp_chroma[nby][nbx]
        return 1 if (c == 2 if two else c != 0) else 0

    if frame.cf:
        ci = chroma_cond(mbx - 1, mby, False) + 2 * chroma_cond(
            mbx, mby - 1, False
        )
        w.decision(ps, ms, 77 + ci, 1 if cbp_chroma else 0)
        if cbp_chroma:
            ci2 = chroma_cond(mbx - 1, mby, True) + 2 * chroma_cond(
                mbx, mby - 1, True
            )
            w.decision(ps, ms, 81 + ci2, cbp_chroma - 1)
    st.cbp_luma[mby][mbx] = cbp_luma
    st.cbp_chroma[mby][mbx] = cbp_chroma

    if cbp_luma or cbp_chroma:
        delta = mb["qp_delta"]
        k = 2 * delta - 1 if delta > 0 else -2 * delta
        qinc = 1 if st.prev_qp_delta_nz else 0
        if k == 0:
            w.decision(ps, ms, 60 + qinc, 0)
            st.prev_qp_delta_nz = False
        else:
            w.decision(ps, ms, 60 + qinc, 1)
            if k == 1:
                w.decision(ps, ms, 62, 0)
            else:
                w.decision(ps, ms, 62, 1)
                for _ in range(k - 2):
                    w.decision(ps, ms, 63, 1)
                w.decision(ps, ms, 63, 0)
            st.prev_qp_delta_nz = True
        off = frame.qp_off
        qp = ((qp + delta + 52 + 2 * off) % (52 + off)) - off
    else:
        st.prev_qp_delta_nz = False
    frame.mb_qp[mby][mbx] = qp

    for b8 in range(4):
        cbf = 0
        if cbp_luma & (1 << b8):
            _encode_block8x8_cabac(w, ps, ms, mb["luma8"][b8])
            cbf = 1
        dx0, dy0 = H._BLK_XY[b8 * 4]
        for cy in range(2):
            for cx in range(2):
                st.cbf_y[mby * 4 + dy0 + cy][mbx * 4 + dx0 + cx] = cbf
    dcs = {c: list(mb["chroma_dc"][c]) for c in range(2)}
    acs = {c: [list(mb["chroma_ac"][c][b]) for b in range(4)]
           for c in range(2)}
    if cbp_chroma:
        for comp in range(2):
            cbf = 1 if any(dcs[comp]) else 0
            ctx = C._cbf_ctx(st, frame, 3, mbx, mby, si, comp)
            w.decision(ps, ms, ctx, cbf)
            if cbf:
                st.cbf_cdc[comp][mby][mbx] = 1
                _encode_block_cabac(w, ps, ms, 3, dcs[comp])
    if cbp_chroma == 2:
        for comp in range(2):
            for blk in range(4):
                cx = mbx * 2 + (blk & 1)
                cy = mby * 2 + (blk >> 1)
                coeffs = acs[comp][blk]
                cbf = 1 if any(coeffs) else 0
                ctx = C._cbf_ctx(st, frame, 4, mbx, mby, si, (comp, cx, cy))
                w.decision(ps, ms, ctx, cbf)
                if cbf:
                    st.cbf_c[comp][cy][cx] = 1
                    _encode_block_cabac(w, ps, ms, 4, coeffs)
    for yy in range(4):
        for xx in range(4):
            frame.decoded4[mby * 4 + yy][mbx * 4 + xx] = True
    return qp


# ------------------------------------------------------------------
# tests
# ------------------------------------------------------------------
def _cabac_roundtrip(mb_w, mb_h, mbs, qp=26, chroma_offset=0,
                     slice_starts=(0,), deblock=(1, 0, 0)):
    data = encode_frame_cabac(mb_w, mb_h, mbs, qp, chroma_offset,
                              (0, 0, 0, 0), slice_starts, deblock)
    w, h, y, u, v = H.decode_h264_frame(data)
    # (a) the independent numpy reconstruction (+ deblock model)
    Y, U, V = _ref_decode(mb_w, mb_h, mbs, qp, chroma_offset, slice_starts)
    Y = Y.astype(np.int64)
    U = U.astype(np.int64)
    V = V.astype(np.int64)
    ref_deblock(Y, U, V, mbs, mb_w, mb_h, qp, chroma_offset,
                slice_starts, deblock)
    np.testing.assert_array_equal(np.array(y), Y)
    np.testing.assert_array_equal(np.array(u), U)
    np.testing.assert_array_equal(np.array(v), V)
    # (b) bit-identical to the CAVLC front-end on the same specs
    cavlc, _ = encode_frame_cavlc(mb_w, mb_h, mbs, qp, chroma_offset,
                                  (0, 0, 0, 0), slice_starts, deblock)
    _, _, y2, u2, v2 = H.decode_h264_frame(cavlc)
    assert y == y2 and u == u2 and v == v2
    return data


def test_cabac_single_i16_dc():
    mb = {
        "type": "i16", "modes": 2, "chroma_mode": 0, "cbp_luma": 0,
        "qp_delta": 2, "cbp_chroma": 0,
        "luma_dc": [7, -3] + [0] * 14,
        "luma": {b: [0] * 15 for b in range(16)},
        "chroma_dc": {0: [0] * 4, 1: [0] * 4},
        "chroma_ac": {c: {b: [0] * 15 for b in range(4)} for c in range(2)},
    }
    _cabac_roundtrip(1, 1, [mb], qp=28)


def test_cabac_i4_all_modes():
    rng = np.random.default_rng(11)
    mbs = [_rand_mb(rng, x, y, 3, allow_pcm=False)
           for y in range(2) for x in range(3)]
    for mb in mbs:
        if mb["type"] == "i4":
            mb["cbp_luma"] = 15  # force residual coverage
    _cabac_roundtrip(3, 2, mbs, qp=30)


def test_cabac_ipcm_reinit():
    """I_PCM leaves the arithmetic word, reads raw bytes, and
    re-initializes the engine — the exact bit-position accounting
    (first-bit suppression vs 9-bit init window) must line up or
    every later macroblock corrupts."""
    rng = np.random.default_rng(5)
    mbs = []
    for y in range(2):
        for x in range(2):
            if (x + y) % 2:
                mbs.append({
                    "type": "pcm",
                    "pcm": (rng.integers(0, 256, (16, 16)),
                            rng.integers(0, 256, (8, 8)),
                            rng.integers(0, 256, (8, 8))),
                })
            else:
                mbs.append(_rand_mb(rng, x, y, 2, allow_pcm=False))
    _cabac_roundtrip(2, 2, mbs, qp=26)


def test_cabac_large_levels_ueg0_suffix():
    """Levels beyond the TU prefix (abs > 15) exercise the EG0 bypass
    suffix in both directions."""
    mb = {
        "type": "i16", "modes": 2, "chroma_mode": 0, "cbp_luma": 15,
        "qp_delta": 0, "cbp_chroma": 2,
        "luma_dc": [250, -97, 16, -15] + [0] * 12,
        "luma": {b: [300, -2048, 17] + [0] * 12 for b in range(16)},
        "chroma_dc": {0: [99, -31, 0, 1], 1: [0, 0, 0, -2000]},
        "chroma_ac": {
            c: {b: [5, 0, -800] + [0] * 12 for b in range(4)}
            for c in range(2)
        },
    }
    _cabac_roundtrip(1, 1, [mb], qp=20)


def test_cabac_multi_slice():
    rng = np.random.default_rng(99)
    mbs = []
    for y in range(3):
        for x in range(2):
            eff_y = 0 if y == 1 else y  # slice 2 starts at row 1
            mbs.append(_rand_mb(rng, x, eff_y, 2, allow_pcm=False))
    _cabac_roundtrip(2, 3, mbs, qp=32, slice_starts=(0, 2))


def test_cabac_with_deblocking():
    rng = np.random.default_rng(42)
    mbs = [_rand_mb(rng, x, y, 2) for y in range(2) for x in range(2)]
    _cabac_roundtrip(2, 2, mbs, qp=40, deblock=(0, 2, -1))


def test_cabac_roundtrip_fuzz():
    rng = np.random.default_rng(20260816)
    for trial in range(20):
        mb_w = int(rng.integers(1, 4))
        mb_h = int(rng.integers(1, 4))
        mbs = [
            _rand_mb(rng, a % mb_w, a // mb_w, mb_w)
            for a in range(mb_w * mb_h)
        ]
        qp = int(rng.choice([12, 20, 26, 33, 40, 47]))
        off = int(rng.integers(-8, 9))
        idc = int(rng.choice([0, 1, 2]))
        _cabac_roundtrip(mb_w, mb_h, mbs, qp=qp, chroma_offset=off,
                         deblock=(idc, 1, 1))


def test_cabac_init_tables_structurally_valid():
    """Every I-slice (m, n) pair must map every legal SliceQP to a
    legal context state, and the engine tables must satisfy the
    spec's structural constraints."""
    for qp in (0, 17, 26, 38, 51):
        ps, ms = C.init_contexts(qp)
        assert all(0 <= s <= 63 for s in ps)
        assert all(v in (0, 1) for v in ms)
    for st, row in enumerate(C.RANGE_LPS):
        assert len(row) == 4
        if st < 63:
            # LPS ranges shrink as the state becomes more confident
            assert all(
                row[q] >= C.RANGE_LPS[st + 1][q] for q in range(4)
            ) or st == 62
        assert all(row[q] <= row[q + 1] for q in range(3))
    assert len(C.TRANS_LPS) == 64 and len(C.TRANS_MPS) == 64
    assert all(0 <= t <= 63 for t in C.TRANS_LPS)
    assert C.TRANS_MPS[62] == 62 and C.TRANS_MPS[63] == 63


def _cabac_i8_roundtrip(mb_w, mb_h, mbs, qp=26, chroma_offset=0,
                        slice_starts=(0,), deblock=(1, 0, 0)):
    data = encode_frame_cabac(mb_w, mb_h, mbs, qp, chroma_offset,
                              (0, 0, 0, 0), slice_starts, deblock,
                              transform8x8=1)
    w, h, y, u, v = H.decode_h264_frame(data)
    Y, U, V = _ref_decode(mb_w, mb_h, mbs, qp, chroma_offset,
                          slice_starts)
    Y = Y.astype(np.int64)
    U = U.astype(np.int64)
    V = V.astype(np.int64)
    ref_deblock(Y, U, V, mbs, mb_w, mb_h, qp, chroma_offset,
                slice_starts, deblock)
    np.testing.assert_array_equal(np.array(y), Y)
    np.testing.assert_array_equal(np.array(u), U)
    np.testing.assert_array_equal(np.array(v), V)
    # cross-front-end: the CAVLC encoding of the same specs decodes
    # to identical pixels
    cavlc, _ = encode_frame_cavlc(
        mb_w, mb_h, mbs, qp, chroma_offset, (0, 0, 0, 0), slice_starts,
        deblock, transform8x8=1,
    )
    _, _, y2, u2, v2 = H.decode_h264_frame(cavlc)
    assert y == y2 and u == u2 and v == v2


def test_cabac_i8x8_single_mb():
    levels = {b: [0] * 64 for b in range(4)}
    levels[0][0] = 9
    levels[2] = [0] * 62 + [3, -4]  # tail positions incl. implied 63
    mb = {
        "type": "i8", "modes": [2, 2, 2, 2], "chroma_mode": 0,
        "cbp_luma": 5, "cbp_chroma": 0, "qp_delta": 1,
        "luma8": levels,
        "chroma_dc": {0: [0] * 4, 1: [0] * 4},
        "chroma_ac": {c: {b: [0] * 15 for b in range(4)} for c in range(2)},
    }
    _cabac_i8_roundtrip(1, 1, [mb], qp=30)


def test_cabac_i8x8_flag_context_and_mixed_sizes():
    """transform_size_8x8_flag's context tracks the left/above MBs'
    flags — a mixed i4/i8/i16/PCM grid drives all four context
    combinations, plus the flag-0 bin every i4 MB now carries."""
    rng = np.random.default_rng(67)
    for trial in range(10):
        mb_w = int(rng.integers(1, 4))
        mb_h = int(rng.integers(1, 4))
        mbs = [
            _rand_mb(rng, a % mb_w, a // mb_w, mb_w, allow_i8=True)
            for a in range(mb_w * mb_h)
        ]
        qp = int(rng.choice([14, 26, 37, 47]))
        _cabac_i8_roundtrip(mb_w, mb_h, mbs, qp=qp,
                            chroma_offset=int(rng.integers(-6, 7)))


def test_cabac_i8x8_with_deblock_and_slices():
    rng = np.random.default_rng(71)
    mbs = []
    for y in range(3):
        for x in range(2):
            eff_y = 0 if y == 2 else y
            mbs.append(
                _rand_mb(rng, x, eff_y, 2, allow_pcm=True, allow_i8=True)
            )
    _cabac_i8_roundtrip(2, 3, mbs, qp=38, slice_starts=(0, 4),
                        deblock=(0, 1, -1))


def test_cabac_i8x8_large_levels():
    levels = {b: [0] * 64 for b in range(4)}
    levels[1] = [250, -2048, 17, 0, 16] + [0] * 59
    mb = {
        "type": "i8", "modes": [2, 2, 2, 2], "chroma_mode": 0,
        "cbp_luma": 2, "cbp_chroma": 0, "qp_delta": 0,
        "luma8": levels,
        "chroma_dc": {0: [0] * 4, 1: [0] * 4},
        "chroma_ac": {c: {b: [0] * 15 for b in range(4)} for c in range(2)},
    }
    _cabac_i8_roundtrip(1, 1, [mb], qp=18)
