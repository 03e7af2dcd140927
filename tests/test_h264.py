"""H.264 baseline I-frame decoder: in-test Annex-B ENCODER (SPS/PPS,
slice headers, CAVLC — coeff_token/levels/total_zeros/run_before —
I_4x4 / I_16x16 / I_PCM macroblocks) round-tripped against an
INDEPENDENT reference model of prediction + transforms transcribed
separately from the spec equations. Entropy-code tables are shared
with the decoder (they affect only the bitstream, never values);
their structure is validated here by prefix-freeness and Kraft
checks."""

from __future__ import annotations

import numpy as np
import pytest

from openset_spark.pipeline import h264 as H


# ------------------------------------------------------------------
# bit writer + NAL assembly
# ------------------------------------------------------------------
class BW:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int):
        k = v + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)

    def se(self, v: int):
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def byte_align_zero(self):
        while len(self.bits) % 8:
            self.bits.append(0)

    def rbsp(self, trailing_stop=True) -> bytes:
        bits = list(self.bits)
        if trailing_stop:
            bits.append(1)
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _escape(rbsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _nal(nal_type: int, rbsp: bytes) -> bytes:
    return b"\x00\x00\x00\x01" + bytes([0x60 | nal_type]) + _escape(rbsp)


def _sps_nal(mb_w, mb_h, crop=(0, 0, 0, 0), chroma_format=1,
             bit_depth=8) -> bytes:
    w = BW()
    if chroma_format != 1 or bit_depth != 8:
        # High / High 10: the profiles that carry format fields
        w.u(110 if bit_depth > 8 else 100, 8)
        w.u(0, 8)
        w.u(30, 8)
        w.ue(0)  # sps_id
        w.ue(chroma_format)
        w.ue(bit_depth - 8)  # bit_depth_luma_minus8
        w.ue(bit_depth - 8)  # bit_depth_chroma_minus8
        w.u(0, 1)  # qpprime_y_zero_transform_bypass
        w.u(0, 1)  # seq_scaling_matrix_present
    else:
        w.u(66, 8)  # baseline
        w.u(0, 8)
        w.u(30, 8)
        w.ue(0)  # sps_id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # pic_order_cnt_type
    w.ue(0)  # log2_max_poc_minus4
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)
    w.ue(mb_w - 1)
    w.ue(mb_h - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if any(crop):
        w.u(1, 1)
        for c in crop:
            w.ue(c)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui absent
    return _nal(7, w.rbsp())


def _pps_nal(pic_init_qp=26, chroma_offset=0, entropy=0,
             transform8x8=0, second_chroma=None) -> bytes:
    w = BW()
    w.ue(0)  # pps_id
    w.ue(0)  # sps_id
    w.u(entropy, 1)  # 0 = CAVLC, 1 = CABAC
    w.u(0, 1)
    w.ue(0)  # one slice group
    w.ue(0)
    w.ue(0)
    w.u(0, 1)
    w.u(0, 2)
    w.se(pic_init_qp - 26)
    w.se(0)
    w.se(chroma_offset)
    w.u(1, 1)  # deblocking_filter_control_present
    w.u(0, 1)
    w.u(0, 1)
    if transform8x8 or second_chroma is not None:
        # High-profile PPS extension
        w.u(transform8x8, 1)
        w.u(0, 1)  # pic_scaling_matrix_present
        w.se(second_chroma if second_chroma is not None else chroma_offset)
    return _nal(8, w.rbsp())


# ------------------------------------------------------------------
# CAVLC encoder (tables shared with the decoder module)
# ------------------------------------------------------------------
def _emit_vlc(w: BW, table, payload):
    for (ln, code), pl in table.items():
        if pl == payload:
            w.u(code, ln)
            return
    raise AssertionError(f"no VLC code for {payload}")


def encode_residual_block(w: BW, coeffs: list[int], n_c: int):
    """Encode one block's scan-order coefficient list; returns
    total_coeff (for nnz bookkeeping)."""
    max_coeff = len(coeffs)
    nz = [(i, c) for i, c in enumerate(coeffs) if c != 0]
    total_coeff = len(nz)
    t1 = 0
    for i in range(len(nz) - 1, -1, -1):
        if abs(nz[i][1]) == 1 and t1 < 3:
            t1 += 1
        else:
            break
    # coeff_token
    if n_c == -1:
        _emit_vlc(w, H._COEFF_TOKEN[3], (t1, total_coeff))
    elif n_c < 2:
        _emit_vlc(w, H._COEFF_TOKEN[0], (t1, total_coeff))
    elif n_c < 4:
        _emit_vlc(w, H._COEFF_TOKEN[1], (t1, total_coeff))
    elif n_c < 8:
        _emit_vlc(w, H._COEFF_TOKEN[2], (t1, total_coeff))
    else:
        w.u(3 if total_coeff == 0 else (((total_coeff - 1) << 2) | t1), 6)
    if total_coeff == 0:
        return 0

    levels = [c for _, c in reversed(nz)]  # highest frequency first
    suffix_length = 1 if (total_coeff > 10 and t1 < 3) else 0
    for i, lvl in enumerate(levels):
        if i < t1:
            w.u(0 if lvl == 1 else 1, 1)
            continue
        level_code = 2 * abs(lvl) - 2 if lvl > 0 else -2 * lvl - 1
        if i == t1 and t1 < 3:
            level_code -= 2
        if suffix_length == 0:
            if level_code < 14:
                w.u(0, level_code)
                w.u(1, 1)
            elif level_code < 30:
                w.u(0, 14)
                w.u(1, 1)
                w.u(level_code - 14, 4)
            else:
                w.u(0, 15)
                w.u(1, 1)
                w.u(level_code - 30, 12)
        else:
            prefix = level_code >> suffix_length
            if prefix < 15:
                w.u(0, prefix)
                w.u(1, 1)
                w.u(level_code & ((1 << suffix_length) - 1), suffix_length)
            else:
                w.u(0, 15)
                w.u(1, 1)
                w.u(level_code - (15 << suffix_length), 12)
        if suffix_length == 0:
            suffix_length = 1
        if abs(lvl) > (3 << (suffix_length - 1)) and suffix_length < 6:
            suffix_length += 1

    last_idx = nz[-1][0]
    total_zeros = last_idx + 1 - total_coeff
    if total_coeff < max_coeff:
        if n_c == -1:
            _emit_vlc(w, H._TOTAL_ZEROS_CDC[total_coeff - 1], total_zeros)
        else:
            _emit_vlc(w, H._TOTAL_ZEROS[total_coeff - 1], total_zeros)

    zeros_left = total_zeros
    for i in range(len(nz) - 1, 0, -1):
        run = nz[i][0] - nz[i - 1][0] - 1
        if zeros_left > 0:
            _emit_vlc(w, H._RUN_BEFORE[min(zeros_left, 7) - 1], run)
        zeros_left -= run
    return total_coeff


# ------------------------------------------------------------------
# macroblock encoder (bookkeeping mirrors the decoder via _Frame)
# ------------------------------------------------------------------
def encode_frame(mb_w, mb_h, mbs, pic_init_qp=26, chroma_offset=0,
                 crop=(0, 0, 0, 0), slice_starts=(0,),
                 deblock=(1, 0, 0), transform8x8=0, second_chroma=None,
                 chroma_format=1, bit_depth=8):
    """mbs: list (raster order) of per-MB dicts:
    {"type": "i4"|"i16"|"pcm", "modes": [16]|int, "chroma_mode": int,
     "cbp_luma": int, "cbp_chroma": int, "qp_delta": int,
     "luma": {blk: [levels]}, "luma_dc": [16], "chroma_dc": {c: [4]},
     "chroma_ac": {c: {blk: [15]}}, "pcm": (y, u, v arrays)}"""
    # parse back the SAME bytes the decoder will see
    sps_nal = _sps_nal(mb_w, mb_h, crop, chroma_format, bit_depth)
    sps = H.parse_sps(H.rbsp_unescape(sps_nal[5:]))
    pps_nal = _pps_nal(pic_init_qp, chroma_offset, 0, transform8x8,
                       second_chroma)
    pps = H.parse_pps(H.rbsp_unescape(pps_nal[5:]))
    frame = H._Frame(sps, pps)
    out = bytearray()
    out += sps_nal
    out += pps_nal

    n_mbs = mb_w * mb_h
    starts = list(slice_starts) + [n_mbs]
    for si in range(len(slice_starts)):
        first, endmb = starts[si], starts[si + 1]
        w = BW()
        w.ue(first)  # first_mb_in_slice
        w.ue(7)  # slice_type I
        w.ue(0)  # pps_id
        w.u(0, 4)  # frame_num
        w.ue(0)  # idr_pic_id
        w.u(0, 4)  # poc lsb
        w.u(0, 1)
        w.u(0, 1)
        w.se(0)  # slice_qp_delta
        # deblock: one (idc, alpha_div2, beta_div2) tuple for all
        # slices, or a per-slice list of them
        idc, a_div2, b_div2 = (
            deblock[si] if isinstance(deblock, list) else deblock
        )
        w.ue(idc)  # disable_deblocking_filter_idc
        if idc != 1:
            w.se(a_div2)  # slice_alpha_c0_offset_div2
            w.se(b_div2)  # slice_beta_offset_div2
        qp = pic_init_qp
        for addr in range(first, endmb):
            mbx, mby = addr % mb_w, addr // mb_w
            frame.mb_slice[mby][mbx] = si
            qp = _encode_mb(w, frame, mbx, mby, qp, si, mbs[addr])
        out += _nal(5, w.rbsp())
    return bytes(out), frame


def _encode_mb(w, frame, mbx, mby, qp, cur_slice, mb):
    if mb["type"] == "pcm":
        w.ue(25)
        w.byte_align_zero()
        y, u, v = mb["pcm"]
        for yy in range(16):
            for xx in range(16):
                w.u(int(y[yy][xx]), frame.bd)
        if frame.cf:
            for plane in (u, v):
                for yy in range(8):
                    for xx in range(8):
                        w.u(int(plane[yy][xx]), frame.bd)
        for by in range(4):
            for bx in range(4):
                frame.nnz_y[mby * 4 + by][mbx * 4 + bx] = 16
                frame.decoded4[mby * 4 + by][mbx * 4 + bx] = True
        for comp in range(2):
            for cy in range(2):
                for cx in range(2):
                    frame.nnz_c[comp][mby * 2 + cy][mbx * 2 + cx] = 16
        return qp

    if mb["type"] == "i8":
        return _encode_mb_i8(w, frame, mbx, mby, qp, cur_slice, mb)

    if mb["type"] == "i4":
        w.ue(0)
        if frame.pps.get("transform_8x8_mode"):
            w.u(0, 1)  # transform_size_8x8_flag
        frame.is_i4[mby][mbx] = True
        for blk in range(16):
            dx, dy = H._BLK_XY[blk]
            bx, by = mbx * 4 + dx, mby * 4 + dy
            pred = H._pred_mode_4x4(frame, bx, by, cur_slice)
            mode = mb["modes"][blk]
            if mode == pred:
                w.u(1, 1)
            else:
                w.u(0, 1)
                rem = mode if mode < pred else mode - 1
                assert rem < 8
                w.u(rem, 3)
            frame.mode4[by][bx] = mode
        if frame.cf:
            w.ue(mb["chroma_mode"])
            cbp = (mb["cbp_chroma"] << 4) | mb["cbp_luma"]
            w.ue(H._CBP_INTRA.index(cbp))
        else:
            cbp = mb["cbp_luma"]
            w.ue(H._CBP_INTRA_MONO.index(cbp))
        if cbp:
            w.se(mb["qp_delta"])
            off = frame.qp_off
            qp = ((qp + mb["qp_delta"] + 52 + 2 * off) % (52 + off)) - off
        for blk in range(16):
            dx, dy = H._BLK_XY[blk]
            bx, by = mbx * 4 + dx, mby * 4 + dy
            if mb["cbp_luma"] & (1 << (blk // 4)):
                nc = frame.luma_nC(bx, by, cur_slice)
                tc = encode_residual_block(w, mb["luma"][blk], nc)
            else:
                tc = 0
            frame.nnz_y[by][bx] = tc
            frame.decoded4[by][bx] = True
        _encode_chroma_res(w, frame, mbx, mby, mb, cur_slice)
        return qp

    # I_16x16
    pm = mb["modes"]
    cbp_l = 1 if mb["cbp_luma"] else 0
    mb_type = 1 + pm + 4 * mb["cbp_chroma"] + 12 * cbp_l
    w.ue(mb_type)
    if frame.cf:
        w.ue(mb["chroma_mode"])
    w.se(mb["qp_delta"])
    off = frame.qp_off
    qp = ((qp + mb["qp_delta"] + 52 + 2 * off) % (52 + off)) - off
    bx0, by0 = mbx * 4, mby * 4
    nc = frame.luma_nC(bx0, by0, cur_slice)
    encode_residual_block(w, mb["luma_dc"], nc)
    for blk in range(16):
        dx, dy = H._BLK_XY[blk]
        bx, by = mbx * 4 + dx, mby * 4 + dy
        if mb["cbp_luma"]:
            nc = frame.luma_nC(bx, by, cur_slice)
            tc = encode_residual_block(w, mb["luma"][blk], nc)
        else:
            tc = 0
        frame.nnz_y[by][bx] = tc
        frame.decoded4[by][bx] = True
    _encode_chroma_res(w, frame, mbx, mby, mb, cur_slice)
    return qp


def _encode_mb_i8(w, frame, mbx, mby, qp, cur_slice, mb):
    """I_NxN + transform_size_8x8_flag=1 (CAVLC): 4 8x8 modes, CBP,
    per-coded-8x8 FOUR interleaved 4x4 residual blocks."""
    assert frame.pps.get("transform_8x8_mode"), "PPS lacks 8x8 mode"
    w.ue(0)  # I_NxN
    w.u(1, 1)  # transform_size_8x8_flag
    frame.is_i4[mby][mbx] = True
    for b8 in range(4):
        b8x = mbx * 2 + (b8 & 1)
        b8y = mby * 2 + (b8 >> 1)
        pred = H._pred_mode_8x8(frame, b8x, b8y, cur_slice)
        mode = mb["modes"][b8]
        if mode == pred:
            w.u(1, 1)
        else:
            w.u(0, 1)
            rem = mode if mode < pred else mode - 1
            assert rem < 8
            w.u(rem, 3)
        for cy in range(2):
            for cx in range(2):
                frame.mode4[b8y * 2 + cy][b8x * 2 + cx] = mode
    if frame.cf:
        w.ue(mb["chroma_mode"])
        cbp = (mb["cbp_chroma"] << 4) | mb["cbp_luma"]
        w.ue(H._CBP_INTRA.index(cbp))
    else:
        cbp = mb["cbp_luma"]
        w.ue(H._CBP_INTRA_MONO.index(cbp))
    if cbp:
        w.se(mb["qp_delta"])
        off = frame.qp_off
        qp = ((qp + mb["qp_delta"] + 52 + 2 * off) % (52 + off)) - off
    for b8 in range(4):
        if mb["cbp_luma"] & (1 << b8):
            levels = mb["luma8"][b8]
            for k in range(4):
                blk = b8 * 4 + k
                dx, dy = H._BLK_XY[blk]
                bx, by = mbx * 4 + dx, mby * 4 + dy
                sub = [levels[4 * i + k] for i in range(16)]
                nc = frame.luma_nC(bx, by, cur_slice)
                tc = encode_residual_block(w, sub, nc)
                frame.nnz_y[by][bx] = tc
        else:
            for k in range(4):
                dx, dy = H._BLK_XY[b8 * 4 + k]
                frame.nnz_y[mby * 4 + dy][mbx * 4 + dx] = 0
    for by in range(4):
        for bx in range(4):
            frame.decoded4[mby * 4 + by][mbx * 4 + bx] = True
    _encode_chroma_res(w, frame, mbx, mby, mb, cur_slice)
    return qp


def _encode_chroma_res(w, frame, mbx, mby, mb, cur_slice):
    if not frame.cf:
        return
    if mb["cbp_chroma"]:
        for comp in range(2):
            encode_residual_block(w, mb["chroma_dc"][comp], -1)
    for comp in range(2):
        for blk in range(4):
            cx = mbx * 2 + (blk & 1)
            cy = mby * 2 + (blk >> 1)
            if mb["cbp_chroma"] == 2:
                nc = frame.chroma_nC(comp, cx, cy, cur_slice)
                tc = encode_residual_block(w, mb["chroma_ac"][comp][blk], nc)
            else:
                tc = 0
            frame.nnz_c[comp][cy][cx] = tc


# ------------------------------------------------------------------
# INDEPENDENT reference model (numpy, spec-equation transcription,
# distinct from the decoder's per-sample butterflies)
# ------------------------------------------------------------------
def _ref_inverse4x4(d):
    """8.5.12.2 transcribed as vectorized numpy integer ops (the
    spec's own >>1 floors are semantic — a float basis matrix is NOT
    equivalent on odd coefficients)."""
    d = np.asarray(d, dtype=np.int64)
    e = np.empty((4, 4), dtype=np.int64)
    a = d[:, 0] + d[:, 2]
    b = d[:, 0] - d[:, 2]
    c = (d[:, 1] >> 1) - d[:, 3]
    t = d[:, 1] + (d[:, 3] >> 1)
    e[:, 0], e[:, 1], e[:, 2], e[:, 3] = a + t, b + c, b - c, a - t
    a = e[0, :] + e[2, :]
    b = e[0, :] - e[2, :]
    c = (e[1, :] >> 1) - e[3, :]
    t = e[1, :] + (e[3, :] >> 1)
    out = np.empty((4, 4), dtype=np.int64)
    out[0], out[1], out[2], out[3] = a + t, b + c, b - c, a - t
    return (out + 32) >> 6


def _ref_dequant(coeffs, qp, dc=None):
    d = np.zeros((4, 4), dtype=int)
    for k, lvl in enumerate(coeffs):
        idx = H._ZZ4[k]
        i, j = idx >> 2, idx & 3
        d[i, j] = (lvl * H._level_scale(qp % 6, i, j)) << (qp // 6)
    if dc is not None:
        d[0, 0] = dc
    return d


def _ref_hadamard4(c):
    Hm = np.array([[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]])
    return Hm @ np.asarray(c) @ Hm.T


_REF_MODEL_CACHE = {}


def _ref_predict4(mode, A, L, X, a_ok, l_ok, AR):
    g = np.zeros((4, 4), dtype=int)
    q = list(A) + list(AR)
    for y in range(4):
        for x in range(4):
            if mode == 0:
                g[y, x] = A[x]
            elif mode == 1:
                g[y, x] = L[y]
            elif mode == 2:
                if a_ok and l_ok:
                    g[y, x] = (sum(A) + sum(L) + 4) >> 3
                elif a_ok:
                    g[y, x] = (sum(A) + 2) >> 2
                elif l_ok:
                    g[y, x] = (sum(L) + 2) >> 2
                else:
                    g[y, x] = 128
            elif mode == 3:
                if x == 3 and y == 3:
                    g[y, x] = (q[6] + 3 * q[7] + 2) >> 2
                else:
                    g[y, x] = (
                        q[x + y] + 2 * q[x + y + 1] + q[x + y + 2] + 2
                    ) >> 2
            elif mode == 4:
                full = ([X] + list(A), [X] + list(L))

                def pa(i):  # p[i, -1], i from -1
                    return full[0][i + 1]

                def pl(i):
                    return full[1][i + 1]

                if x > y:
                    g[y, x] = (
                        pa(x - y - 2) + 2 * pa(x - y - 1) + pa(x - y) + 2
                    ) >> 2
                elif x < y:
                    g[y, x] = (
                        pl(y - x - 2) + 2 * pl(y - x - 1) + pl(y - x) + 2
                    ) >> 2
                else:
                    g[y, x] = (pa(0) + 2 * X + pl(0) + 2) >> 2
            elif mode == 5:
                pa = lambda i: ([X] + list(A))[i + 1]  # noqa: E731
                pl = lambda i: ([X] + list(L))[i + 1]  # noqa: E731
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    g[y, x] = (
                        pa(x - (y >> 1) - 1) + pa(x - (y >> 1)) + 1
                    ) >> 1
                elif z >= 0:
                    g[y, x] = (
                        pa(x - (y >> 1) - 2)
                        + 2 * pa(x - (y >> 1) - 1)
                        + pa(x - (y >> 1))
                        + 2
                    ) >> 2
                elif z == -1:
                    g[y, x] = (pl(0) + 2 * X + pa(0) + 2) >> 2
                else:
                    g[y, x] = (
                        pl(y - 1) + 2 * pl(y - 2) + pl(y - 3) + 2
                    ) >> 2
            elif mode == 6:
                pa = lambda i: ([X] + list(A))[i + 1]  # noqa: E731
                pl = lambda i: ([X] + list(L))[i + 1]  # noqa: E731
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    g[y, x] = (
                        pl(y - (x >> 1) - 1) + pl(y - (x >> 1)) + 1
                    ) >> 1
                elif z >= 0:
                    g[y, x] = (
                        pl(y - (x >> 1) - 2)
                        + 2 * pl(y - (x >> 1) - 1)
                        + pl(y - (x >> 1))
                        + 2
                    ) >> 2
                elif z == -1:
                    g[y, x] = (pa(0) + 2 * X + pl(0) + 2) >> 2
                else:
                    g[y, x] = (
                        pa(x - 1) + 2 * pa(x - 2) + pa(x - 3) + 2
                    ) >> 2
            elif mode == 7:
                k = x + (y >> 1)
                if y % 2 == 0:
                    g[y, x] = (q[k] + q[k + 1] + 1) >> 1
                else:
                    g[y, x] = (q[k] + 2 * q[k + 1] + q[k + 2] + 2) >> 2
            elif mode == 8:
                z = x + 2 * y
                if z < 5 and z % 2 == 0:
                    k = y + (x >> 1)
                    g[y, x] = (L[k] + L[k + 1] + 1) >> 1
                elif z < 5:
                    k = y + (x >> 1)
                    g[y, x] = (L[k] + 2 * L[k + 1] + L[k + 2] + 2) >> 2
                elif z == 5:
                    g[y, x] = (L[2] + 3 * L[3] + 2) >> 2
                else:
                    g[y, x] = L[3]
    return g



# ------------------------------------------------------------------
# independent 8x8 reference model (High profile)
# ------------------------------------------------------------------
def _ref_idct8(d):
    """8.5.13.2 butterfly, vectorized per pass (int64 >> is the
    arithmetic shift the spec means)."""
    d = np.asarray(d, dtype=np.int64)

    def onepass(f):
        # f: (8, n) — transform along axis 0
        e = np.empty_like(f)
        e[0] = f[0] + f[4]
        e[1] = -f[3] + f[5] - f[7] - (f[7] >> 1)
        e[2] = f[0] - f[4]
        e[3] = f[1] + f[7] - f[3] - (f[3] >> 1)
        e[4] = (f[2] >> 1) - f[6]
        e[5] = -f[1] + f[7] + f[5] + (f[5] >> 1)
        e[6] = f[2] + (f[6] >> 1)
        e[7] = f[3] + f[5] + f[1] + (f[1] >> 1)
        g = np.empty_like(e)
        g[0] = e[0] + e[6]
        g[1] = e[1] + (e[7] >> 2)
        g[2] = e[2] + e[4]
        g[3] = e[3] + (e[5] >> 2)
        g[4] = e[2] - e[4]
        g[5] = (e[3] >> 2) - e[5]
        g[6] = e[0] - e[6]
        g[7] = e[7] - (e[1] >> 2)
        return np.stack([
            g[0] + g[7], g[2] + g[5], g[4] + g[3], g[6] + g[1],
            g[6] - g[1], g[4] - g[3], g[2] - g[5], g[0] - g[7],
        ])

    rows = onepass(d.T).T      # row transform
    cols = onepass(rows)       # column transform
    return (cols + 32) >> 6


_REF_W8_CLASS = np.zeros((8, 8), dtype=int)
for _i in range(8):
    for _j in range(8):
        if _i % 4 == 0 and _j % 4 == 0:
            _REF_W8_CLASS[_i, _j] = 0
        elif _i % 2 == 1 and _j % 2 == 1:
            _REF_W8_CLASS[_i, _j] = 1
        elif _i % 4 == 2 and _j % 4 == 2:
            _REF_W8_CLASS[_i, _j] = 2
        elif (_i % 4 == 0 and _j % 2 == 1) or (_i % 2 == 1 and _j % 4 == 0):
            _REF_W8_CLASS[_i, _j] = 3
        elif (_i % 4 == 0 and _j % 4 == 2) or (_i % 4 == 2 and _j % 4 == 0):
            _REF_W8_CLASS[_i, _j] = 4
        else:
            _REF_W8_CLASS[_i, _j] = 5


def _ref_dequant8(levels, qp):
    # LevelScale8x8 = weightScale(16, flat) * normAdjust8x8 — the x16
    # must be present (equivalent to the public (c*qmul + 32) >> 6)
    v = 16 * np.array(H._V8[qp % 6], dtype=np.int64)[_REF_W8_CLASS]
    d = np.zeros((8, 8), dtype=np.int64)
    for k, lvl in enumerate(levels):
        if lvl:
            idx = H._ZZ8[k]
            d[idx >> 3, idx & 7] = lvl
    sh = qp // 6
    if qp >= 36:
        return (d * v) << (sh - 6)
    return np.where(d != 0, (d * v + (1 << (5 - sh))) >> (6 - sh), 0)


def _ref_filter8(A, L, X, a_ok, l_ok, x_ok):
    fA, fL, fX = list(A), list(L), X
    if a_ok:
        fA = (
            [((X + 2 * A[0] + A[1] + 2) >> 2) if x_ok
             else ((3 * A[0] + A[1] + 2) >> 2)]
            + [(A[i - 1] + 2 * A[i] + A[i + 1] + 2) >> 2
               for i in range(1, 15)]
            + [(A[14] + 3 * A[15] + 2) >> 2]
        )
    if x_ok:
        if a_ok and l_ok:
            fX = (A[0] + 2 * X + L[0] + 2) >> 2
        elif a_ok:
            fX = (3 * X + A[0] + 2) >> 2
        elif l_ok:
            fX = (3 * X + L[0] + 2) >> 2
    if l_ok:
        fL = (
            [((X + 2 * L[0] + L[1] + 2) >> 2) if x_ok
             else ((3 * L[0] + L[1] + 2) >> 2)]
            + [(L[i - 1] + 2 * L[i] + L[i + 1] + 2) >> 2
               for i in range(1, 7)]
            + [(L[6] + 3 * L[7] + 2) >> 2]
        )
    return fA, fL, fX


def _ref_predict8(mode, A, L, X, a_ok, l_ok):
    """The 4x4 formulas at N=8 over filtered refs — reuses the
    decoder's arithmetic shapes via the SAME generalization the spec
    writes; values are cross-checked against predict_4x4's pinned
    behavior by the shared roundtrips."""
    p = np.zeros((8, 8), dtype=np.int64)
    if mode == 0:
        p[:] = np.asarray(A[:8])[None, :]
    elif mode == 1:
        p[:] = np.asarray(L)[:, None]
    elif mode == 2:
        if a_ok and l_ok:
            dc = (sum(A[:8]) + sum(L) + 8) >> 4
        elif a_ok:
            dc = (sum(A[:8]) + 4) >> 3
        elif l_ok:
            dc = (sum(L) + 4) >> 3
        else:
            dc = 128
        p[:] = dc
    elif mode == 3:
        for y in range(8):
            for x in range(8):
                if x == 7 and y == 7:
                    p[y, x] = (A[14] + 3 * A[15] + 2) >> 2
                else:
                    k = x + y
                    p[y, x] = (A[k] + 2 * A[k + 1] + A[k + 2] + 2) >> 2
    elif mode == 4:
        for y in range(8):
            for x in range(8):
                if x > y:
                    k = x - y - 2
                    a0 = A[k] if k >= 0 else X
                    a1 = A[k + 1] if k + 1 >= 0 else X
                    p[y, x] = (a0 + 2 * a1 + A[k + 2] + 2) >> 2
                elif x < y:
                    k = y - x - 2
                    l0 = L[k] if k >= 0 else X
                    l1 = L[k + 1] if k + 1 >= 0 else X
                    p[y, x] = (l0 + 2 * l1 + L[k + 2] + 2) >> 2
                else:
                    p[y, x] = (A[0] + 2 * X + L[0] + 2) >> 2
    elif mode == 5:
        for y in range(8):
            for x in range(8):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    k = x - (y >> 1) - 1
                    a0 = A[k] if k >= 0 else X
                    p[y, x] = (a0 + A[k + 1] + 1) >> 1
                elif z >= 0:
                    k = x - (y >> 1) - 2
                    a0 = A[k] if k >= 0 else X
                    a1 = A[k + 1] if k + 1 >= 0 else X
                    p[y, x] = (a0 + 2 * a1 + A[k + 2] + 2) >> 2
                elif z == -1:
                    p[y, x] = (L[0] + 2 * X + A[0] + 2) >> 2
                else:
                    k = y - 2 * x
                    l2 = L[k - 3] if k >= 3 else X
                    p[y, x] = (L[k - 1] + 2 * L[k - 2] + l2 + 2) >> 2
    elif mode == 6:
        for y in range(8):
            for x in range(8):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    k = y - (x >> 1) - 1
                    l0 = L[k] if k >= 0 else X
                    p[y, x] = (l0 + L[k + 1] + 1) >> 1
                elif z >= 0:
                    k = y - (x >> 1) - 2
                    l0 = L[k] if k >= 0 else X
                    l1 = L[k + 1] if k + 1 >= 0 else X
                    p[y, x] = (l0 + 2 * l1 + L[k + 2] + 2) >> 2
                elif z == -1:
                    p[y, x] = (A[0] + 2 * X + L[0] + 2) >> 2
                else:
                    k = x - 2 * y
                    a2 = A[k - 3] if k >= 3 else X
                    p[y, x] = (A[k - 1] + 2 * A[k - 2] + a2 + 2) >> 2
    elif mode == 7:
        for y in range(8):
            for x in range(8):
                k = x + (y >> 1)
                if y % 2 == 0:
                    p[y, x] = (A[k] + A[k + 1] + 1) >> 1
                else:
                    p[y, x] = (A[k] + 2 * A[k + 1] + A[k + 2] + 2) >> 2
    elif mode == 8:
        for y in range(8):
            for x in range(8):
                z = x + 2 * y
                if z < 13 and z % 2 == 0:
                    k = y + (x >> 1)
                    p[y, x] = (L[k] + L[k + 1] + 1) >> 1
                elif z < 13:
                    k = y + (x >> 1)
                    p[y, x] = (L[k] + 2 * L[k + 1] + L[k + 2] + 2) >> 2
                elif z == 13:
                    p[y, x] = (L[6] + 3 * L[7] + 2) >> 2
                else:
                    p[y, x] = L[7]
    return p


def _ref_decode(mb_w, mb_h, mbs, pic_init_qp, chroma_offset,
                slice_starts=(0,), second_chroma=None):
    """Replays the documented reconstruction with numpy helpers;
    returns (y, u, v) full (uncropped) planes."""
    W, Hh = mb_w * 16, mb_h * 16
    Y = np.zeros((Hh, W), dtype=int)
    U = np.zeros((Hh // 2, W // 2), dtype=int)
    V = np.zeros((Hh // 2, W // 2), dtype=int)
    mode4 = -np.ones((mb_h * 4, mb_w * 4), dtype=int)
    decoded = np.zeros((mb_h * 4, mb_w * 4), dtype=bool)
    n_mbs = mb_w * mb_h
    starts = list(slice_starts) + [n_mbs]
    slice_of = np.zeros(n_mbs, dtype=int)
    for si in range(len(slice_starts)):
        slice_of[starts[si] : starts[si + 1]] = si

    def mb_ok(bx, by, cur):
        mx, my = bx // 4, by // 4
        if not (0 <= mx < mb_w and 0 <= my < mb_h):
            return False
        return slice_of[my * mb_w + mx] == cur

    qp = pic_init_qp
    for addr in range(n_mbs):
        cur = slice_of[addr]
        if addr in slice_starts:
            qp = pic_init_qp
        mbx, mby = addr % mb_w, addr // mb_w
        mb = mbs[addr]
        if mb["type"] == "pcm":
            y, u, v = mb["pcm"]
            Y[mby * 16 : mby * 16 + 16, mbx * 16 : mbx * 16 + 16] = y
            U[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = u
            V[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = v
            decoded[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = True
            continue
        if mb["cbp_luma"] or mb["cbp_chroma"] or mb["type"] == "i16":
            qp = (qp + mb["qp_delta"] + 52) % 52
        if mb["type"] == "i4":
            for blk in range(16):
                dx, dy = H._BLK_XY[blk]
                bx, by = mbx * 4 + dx, mby * 4 + dy
                x0, y0 = bx * 4, by * 4
                a_ok = by > 0 and mb_ok(bx, by - 1, cur)
                l_ok = bx > 0 and mb_ok(bx - 1, by, cur)
                A = Y[y0 - 1, x0 : x0 + 4].tolist() if a_ok else [0] * 4
                L = Y[y0 : y0 + 4, x0 - 1].tolist() if l_ok else [0] * 4
                x_ok = a_ok and l_ok and mb_ok(bx - 1, by - 1, cur)
                X = int(Y[y0 - 1, x0 - 1]) if x_ok else (
                    A[0] if a_ok else (L[0] if l_ok else 128)
                )
                ar_ok = (
                    by > 0
                    and bx + 1 < mb_w * 4
                    and mb_ok(bx + 1, by - 1, cur)
                    and decoded[by - 1, bx + 1]
                )
                if ar_ok:
                    AR = Y[y0 - 1, x0 + 4 : x0 + 8].tolist()
                elif a_ok:
                    AR = [A[3]] * 4
                else:
                    AR = [0] * 4
                mode = mb["modes"][blk]
                mode4[by, bx] = mode
                pred = _ref_predict4(mode, A, L, X, a_ok, l_ok, AR)
                lv = (
                    mb["luma"][blk]
                    if mb["cbp_luma"] & (1 << (blk // 4))
                    else [0] * 16
                )
                res = _ref_inverse4x4(_ref_dequant(lv, qp))
                Y[y0 : y0 + 4, x0 : x0 + 4] = np.clip(pred + res, 0, 255)
                decoded[by, bx] = True
        elif mb["type"] == "i8":
            for b8 in range(4):
                bx = mbx * 4 + (b8 & 1) * 2
                by = mby * 4 + (b8 >> 1) * 2
                x0, y0 = bx * 4, by * 4
                a_ok = by > 0 and mb_ok(bx, by - 1, cur)
                l_ok = bx > 0 and mb_ok(bx - 1, by, cur)
                x_ok = a_ok and l_ok and mb_ok(bx - 1, by - 1, cur)
                A = [0] * 16
                L = [0] * 8
                X = 128
                if a_ok:
                    A[:8] = Y[y0 - 1, x0:x0 + 8].tolist()
                    ar_ok = (
                        bx + 2 < mb_w * 4
                        and mb_ok(bx + 2, by - 1, cur)
                        and decoded[by - 1, bx + 2]
                        and decoded[by - 1, bx + 3]
                    )
                    if ar_ok:
                        A[8:] = Y[y0 - 1, x0 + 8:x0 + 16].tolist()
                    else:
                        A[8:] = [A[7]] * 8
                if l_ok:
                    L = Y[y0:y0 + 8, x0 - 1].tolist()
                if x_ok:
                    X = int(Y[y0 - 1, x0 - 1])
                elif a_ok:
                    X = A[0]
                elif l_ok:
                    X = L[0]
                fA, fL, fX = _ref_filter8(A, L, X, a_ok, l_ok, x_ok)
                pred = _ref_predict8(
                    mb["modes"][b8], fA, fL, fX, a_ok, l_ok
                )
                lv = (
                    mb["luma8"][b8]
                    if mb["cbp_luma"] & (1 << b8)
                    else [0] * 64
                )
                res = _ref_idct8(_ref_dequant8(lv, qp))
                Y[y0:y0 + 8, x0:x0 + 8] = np.clip(pred + res, 0, 255)
                decoded[by:by + 2, bx:bx + 2] = True
                mode4[by:by + 2, bx:bx + 2] = mb["modes"][b8]
        else:  # i16
            x0, y0 = mbx * 16, mby * 16
            a_ok = mby > 0 and mb_ok(mbx * 4, mby * 4 - 1, cur)
            l_ok = mbx > 0 and mb_ok(mbx * 4 - 1, mby * 4, cur)
            above = Y[y0 - 1, x0 : x0 + 16].tolist() if a_ok else [0] * 16
            left = Y[y0 : y0 + 16, x0 - 1].tolist() if l_ok else [0] * 16
            x_ok = a_ok and l_ok and mb_ok(mbx * 4 - 1, mby * 4 - 1, cur)
            tl = int(Y[y0 - 1, x0 - 1]) if x_ok else 128
            pm = mb["modes"]
            if pm == 0:
                pred = np.tile(above, (16, 1))
            elif pm == 1:
                pred = np.tile(np.array(left)[:, None], (1, 16))
            elif pm == 2:
                if a_ok and l_ok:
                    dc = (sum(above) + sum(left) + 16) >> 5
                elif a_ok:
                    dc = (sum(above) + 8) >> 4
                elif l_ok:
                    dc = (sum(left) + 8) >> 4
                else:
                    dc = 128
                pred = np.full((16, 16), dc, dtype=int)
            else:
                hh = sum(
                    (x + 1)
                    * (above[8 + x] - (above[6 - x] if 6 - x >= 0 else tl))
                    for x in range(8)
                )
                vv = sum(
                    (y + 1)
                    * (left[8 + y] - (left[6 - y] if 6 - y >= 0 else tl))
                    for y in range(8)
                )
                b = (5 * hh + 32) >> 6
                c = (5 * vv + 32) >> 6
                a = 16 * (above[15] + left[15])
                pred = np.clip(
                    (
                        a
                        + b * (np.arange(16)[None, :] - 7)
                        + c * (np.arange(16)[:, None] - 7)
                        + 16
                    )
                    >> 5,
                    0,
                    255,
                )
            f = np.zeros((4, 4), dtype=int)
            for k in range(16):
                idx = H._ZZ4[k]
                f[idx >> 2, idx & 3] = mb["luma_dc"][k]
            g = _ref_hadamard4(f)
            dcs = np.vectorize(lambda v: H._scale_luma_dc(int(v), qp))(g)
            for blk in range(16):
                dx, dy = H._BLK_XY[blk]
                lv = [0] + (mb["luma"][blk] if mb["cbp_luma"] else [0] * 15)
                res = _ref_inverse4x4(
                    _ref_dequant(lv, qp, dc=int(dcs[dy, dx]))
                )
                px, py = x0 + dx * 4, y0 + dy * 4
                Y[py : py + 4, px : px + 4] = np.clip(
                    pred[dy * 4 : dy * 4 + 4, dx * 4 : dx * 4 + 4] + res,
                    0,
                    255,
                )
                decoded[mby * 4 + dy, mbx * 4 + dx] = True

        # chroma (comp 1 uses the High-profile second offset)
        for comp, P in ((0, U), (1, V)):
            qpc = H._chroma_qp(
                qp,
                chroma_offset if comp == 0 or second_chroma is None
                else second_chroma,
            )
            x0, y0 = mbx * 8, mby * 8
            a_ok = mby > 0 and mb_ok(mbx * 4, mby * 4 - 1, cur)
            l_ok = mbx > 0 and mb_ok(mbx * 4 - 1, mby * 4, cur)
            above = P[y0 - 1, x0 : x0 + 8].tolist() if a_ok else [0] * 8
            left = P[y0 : y0 + 8, x0 - 1].tolist() if l_ok else [0] * 8
            x_ok = a_ok and l_ok and mb_ok(mbx * 4 - 1, mby * 4 - 1, cur)
            tl = int(P[y0 - 1, x0 - 1]) if x_ok else 128
            pred = np.array(
                H.predict_chroma(
                    mb["chroma_mode"], above, left, tl, a_ok, l_ok
                )
            )
            c = (
                mb["chroma_dc"][comp]
                if mb["cbp_chroma"]
                else [0, 0, 0, 0]
            )
            g = [
                c[0] + c[1] + c[2] + c[3],
                c[0] - c[1] + c[2] - c[3],
                c[0] + c[1] - c[2] - c[3],
                c[0] - c[1] - c[2] + c[3],
            ]
            dcv = [H._scale_chroma_dc(t, qpc) for t in g]
            for blk in range(4):
                lv = [0] + (
                    mb["chroma_ac"][comp][blk]
                    if mb["cbp_chroma"] == 2
                    else [0] * 15
                )
                res = _ref_inverse4x4(_ref_dequant(lv, qpc, dc=dcv[blk]))
                bx0, by0 = (blk & 1) * 4, (blk >> 1) * 4
                P[y0 + by0 : y0 + by0 + 4, x0 + bx0 : x0 + bx0 + 4] = (
                    np.clip(
                        pred[by0 : by0 + 4, bx0 : bx0 + 4] + res, 0, 255
                    )
                )
    return Y, U, V


# ------------------------------------------------------------------
# generators
# ------------------------------------------------------------------
def _rand_levels(rng, n, density=0.3, lo=-8, hi=8):
    lv = [0] * n
    for i in range(n):
        if rng.random() < density:
            v = 0
            while v == 0:
                v = int(rng.integers(lo, hi + 1))
            lv[i] = v
    return lv


def _rand_mb(rng, mbx, mby, mb_w, allow_pcm=True, slice_start_col=None,
             allow_i8=False):
    """A random legal macroblock spec. Mode choices respect edge
    availability (the encoder itself asserts nothing — the generator
    must produce conforming streams)."""
    a_ok = mby > 0
    l_ok = mbx > 0 and (slice_start_col is None or mbx != slice_start_col)
    kinds = ["i4", "i16", "i16"]
    if allow_i8:
        kinds = ["i4", "i16", "i8", "i8"]
    if allow_pcm and rng.random() < 0.08:
        kinds = ["pcm"]
    kind = kinds[int(rng.integers(0, len(kinds)))]
    if kind == "pcm":
        return {
            "type": "pcm",
            "pcm": (
                rng.integers(0, 256, (16, 16)),
                rng.integers(0, 256, (8, 8)),
                rng.integers(0, 256, (8, 8)),
            ),
        }
    chroma_modes = [0]
    if l_ok:
        chroma_modes.append(1)
    if a_ok:
        chroma_modes.append(2)
    if a_ok and l_ok:
        chroma_modes.append(3)
    chroma_mode = int(rng.choice(chroma_modes))
    cbp_chroma = int(rng.integers(0, 3))
    mb = {
        "type": kind,
        "chroma_mode": chroma_mode,
        "cbp_chroma": cbp_chroma,
        "qp_delta": int(rng.integers(-3, 4)),
        "chroma_dc": {c: _rand_levels(rng, 4, 0.5) for c in range(2)},
        "chroma_ac": {
            c: {b: _rand_levels(rng, 15, 0.25) for b in range(4)}
            for c in range(2)
        },
    }
    if kind == "i8":
        modes8 = []
        for b8 in range(4):
            a8 = a_ok or b8 >= 2
            l8 = l_ok or bool(b8 & 1)
            x8 = a8 and l8 and (b8 != 0 or (a_ok and l_ok))
            ok = [2]
            if a8:
                ok += [0, 3, 7]
            if l8:
                ok += [1, 8]
            if a8 and l8 and x8:
                ok += [4, 5, 6]
            modes8.append(int(rng.choice(ok)))
        mb["type"] = "i8"
        mb["modes"] = modes8
        mb["cbp_luma"] = int(rng.integers(0, 16))
        mb["luma8"] = {b: _rand_levels(rng, 64, 0.12) for b in range(4)}
        # CABAC 8x8 blocks carry no coded_block_flag: a CBP-coded
        # block must be non-empty
        for b in range(4):
            if mb["cbp_luma"] & (1 << b) and not any(mb["luma8"][b]):
                mb["luma8"][b][0] = 1
        if mb["cbp_luma"] == 0 and mb["cbp_chroma"] == 0:
            mb["qp_delta"] = 0
        return mb
    if kind == "i16":
        modes = [2]
        if a_ok:
            modes.append(0)
        if l_ok:
            modes.append(1)
        if a_ok and l_ok:
            modes.append(3)
        mb["modes"] = int(rng.choice(modes))
        mb["cbp_luma"] = 15 if rng.random() < 0.7 else 0
        mb["luma_dc"] = _rand_levels(rng, 16, 0.5)
        mb["luma"] = {b: _rand_levels(rng, 15, 0.2) for b in range(16)}
    else:
        # intra4x4 block modes: availability per block
        modes = []
        for blk in range(16):
            dx, dy = H._BLK_XY[blk]
            blk_a = a_ok or dy > 0
            blk_l = l_ok or dx > 0
            ok = [2]
            if blk_a:
                ok += [0, 3, 7]
            if blk_l:
                ok += [1, 8]
            if blk_a and blk_l:
                ok += [4, 5, 6]
            modes.append(int(rng.choice(ok)))
        mb["modes"] = modes
        mb["cbp_luma"] = int(rng.integers(0, 16))
        mb["luma"] = {b: _rand_levels(rng, 16, 0.25) for b in range(16)}
    if mb["cbp_luma"] == 0 and mb["cbp_chroma"] == 0 and kind == "i4":
        mb["qp_delta"] = 0  # no mb_qp_delta element in the stream
    return mb


def _roundtrip(mb_w, mb_h, mbs, qp=26, chroma_offset=0, crop=(0, 0, 0, 0),
               slice_starts=(0,)):
    data, _ = encode_frame(
        mb_w, mb_h, mbs, qp, chroma_offset, crop, slice_starts
    )
    w, h, y, u, v = H.decode_h264_frame(data)
    Y, U, V = _ref_decode(mb_w, mb_h, mbs, qp, chroma_offset, slice_starts)
    cl, cr, ct, cb = crop
    assert w == mb_w * 16 - 2 * (cl + cr)
    assert h == mb_h * 16 - 2 * (ct + cb)
    np.testing.assert_array_equal(
        np.array(y), Y[2 * ct : 2 * ct + h, 2 * cl : 2 * cl + w]
    )
    np.testing.assert_array_equal(
        np.array(u), U[ct : ct + h // 2, cl : cl + w // 2]
    )
    np.testing.assert_array_equal(
        np.array(v), V[ct : ct + h // 2, cl : cl + w // 2]
    )
    return data


# ------------------------------------------------------------------
# tests
# ------------------------------------------------------------------
def test_vlc_tables_prefix_free_and_kraft():
    def check(d, complete):
        codes = sorted(d.keys())
        for (l1, c1) in codes:
            for (l2, c2) in codes:
                if (l1, c1) != (l2, c2) and l2 >= l1:
                    assert not (
                        l2 > l1 and (c2 >> (l2 - l1)) == c1
                    ), f"prefix clash {(l1, c1)} {(l2, c2)}"
        kraft = sum(2.0 ** -l for (l, _) in d)
        assert kraft <= 1.0 + 1e-12
        if complete:
            assert abs(kraft - 1.0) < 1e-12

    for i, d in enumerate(H._COEFF_TOKEN):
        check(d, complete=(i == 3))
    # total_zeros for tc=1 has one spec-reserved codeword; the rest
    # of the total_zeros family and run_before(z<7) are complete
    for i, d in enumerate(H._TOTAL_ZEROS):
        check(d, complete=(i != 0))
    for d in H._TOTAL_ZEROS_CDC:
        check(d, complete=True)
    for i, d in enumerate(H._RUN_BEFORE):
        check(d, complete=(i < 6))


def test_cavlc_block_roundtrip_fuzz():
    rng = np.random.default_rng(2)
    for trial in range(300):
        n = int(rng.choice([4, 15, 16]))
        nc = int(rng.choice([-1, 0, 1, 2, 3, 4, 7, 8, 20]))
        if n == 4:
            nc = -1
        elif nc == -1:
            nc = 0
        density = rng.random()
        hi = int(rng.choice([1, 2, 8, 40, 300]))
        lv = _rand_levels(rng, n, density, -hi, hi)
        w = BW()
        encode_residual_block(w, lv, nc)
        data = w.rbsp()
        br = H.BitReader(data)
        got, tc = H.decode_residual_block(br, nc, n)
        assert got == lv, (trial, lv, got)
        assert tc == sum(1 for x in lv if x != 0)


def test_single_i16_dc_macroblock():
    mbs = [
        {
            "type": "i16",
            "modes": 2,
            "chroma_mode": 0,
            "cbp_luma": 0,
            "cbp_chroma": 0,
            "qp_delta": 0,
            "luma_dc": [5, -3, 1, 0, 2, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0],
            "luma": {b: [0] * 15 for b in range(16)},
            "chroma_dc": {0: [0] * 4, 1: [0] * 4},
            "chroma_ac": {c: {b: [0] * 15 for b in range(4)} for c in range(2)},
        }
    ]
    _roundtrip(1, 1, mbs)


def test_single_i4_macroblock_dc_modes():
    rng = np.random.default_rng(3)
    mb = {
        "type": "i4",
        "modes": [2] * 16,
        "chroma_mode": 0,
        "cbp_luma": 15,
        "cbp_chroma": 2,
        "qp_delta": 2,
        "luma": {b: _rand_levels(rng, 16, 0.4) for b in range(16)},
        "chroma_dc": {c: _rand_levels(rng, 4, 0.7) for c in range(2)},
        "chroma_ac": {
            c: {b: _rand_levels(rng, 15, 0.3) for b in range(4)}
            for c in range(2)
        },
    }
    _roundtrip(1, 1, [mb])


def test_ipcm_macroblock():
    rng = np.random.default_rng(4)
    mbs = [
        _rand_mb(rng, 0, 0, 2, allow_pcm=False),
        {
            "type": "pcm",
            "pcm": (
                rng.integers(0, 256, (16, 16)),
                rng.integers(0, 256, (8, 8)),
                rng.integers(0, 256, (8, 8)),
            ),
        },
    ]
    _roundtrip(2, 1, mbs)


def test_multi_mb_frame_fuzz():
    rng = np.random.default_rng(5)
    mb_w, mb_h = 4, 3
    for trial in range(6):
        mbs = [
            _rand_mb(rng, a % mb_w, a // mb_w, mb_w)
            for a in range(mb_w * mb_h)
        ]
        _roundtrip(mb_w, mb_h, mbs, qp=int(rng.integers(10, 44)),
                   chroma_offset=int(rng.integers(-4, 5)))


def test_frame_cropping():
    rng = np.random.default_rng(6)
    mb_w, mb_h = 2, 2
    mbs = [
        _rand_mb(rng, a % mb_w, a // mb_w, mb_w, allow_pcm=False)
        for a in range(4)
    ]
    # 30x28 luma from 32x32 (right crop 1 unit = 2 px, bottom 2 units)
    _roundtrip(mb_w, mb_h, mbs, crop=(0, 1, 0, 2))


def test_multi_slice_availability_barrier():
    """Second slice starts mid-frame: its MBs must not predict from
    slice-1 pixels (the model enforces the same barrier)."""
    rng = np.random.default_rng(7)
    mb_w, mb_h = 3, 2
    mbs = []
    for a in range(mb_w * mb_h):
        mbx, mby = a % mb_w, a // mb_w
        # the second slice begins at MB 3 (row 1 col 0) — within it,
        # row-1 MBs cannot use ABOVE prediction (above is slice 0)
        mb = _rand_mb(rng, mbx, mby, mb_w, allow_pcm=False)
        if mby == 1:
            if mb["type"] == "i16" and mb["modes"] in (0, 3):
                mb["modes"] = 2
            if mb["type"] == "i4":
                mb["modes"] = [
                    m if m not in (0, 3, 4, 5, 6, 7) else 2
                    for m in mb["modes"]
                ]
            if mb["chroma_mode"] in (2, 3):
                mb["chroma_mode"] = 0
        mbs.append(mb)
    _roundtrip(mb_w, mb_h, mbs, slice_starts=(0, 3))


def test_decoder_rejects_unsupported():
    rng = np.random.default_rng(8)
    mbs = [_rand_mb(rng, 0, 0, 1, allow_pcm=False)]
    data, _ = encode_frame(1, 1, mbs)
    # PPS with two slice groups -> FMO must be rejected
    w = BW()
    w.ue(0)
    w.ue(0)
    w.u(0, 1)  # CAVLC (CABAC is supported since r9 — h264_cabac.py)
    w.u(0, 1)
    w.ue(1)  # num_slice_groups_minus1 = 1 -> FMO
    w.ue(0)  # slice_group_map_type
    w.ue(0)
    w.ue(0)
    w.u(0, 1)
    w.u(0, 2)
    w.se(0)
    w.se(0)
    w.se(0)
    w.u(1, 1)
    w.u(0, 1)
    w.u(0, 1)
    with pytest.raises(NotImplementedError, match="FMO"):
        H.parse_pps(w.rbsp())


def test_h264_to_rgb_bt601():
    # gray mid-level: Y=126, U=V=128 -> R=G=B≈128
    y = [[126, 126], [126, 126]]
    u = [[128]]
    v = [[128]]
    rgb = H.h264_to_rgb(2, 2, y, u, v)
    vals = set(rgb)
    assert all(125 <= b <= 131 for b in vals)
