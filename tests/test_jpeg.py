"""Baseline JPEG decoder tests: fixtures are produced by an
independent encoder written here (forward DCT + Annex-K quant tables +
simple canonical Huffman tables), so the decoder's Huffman walk,
dequantize, IDCT, upsampling, and color conversion are validated
against a second implementation, not against themselves."""

import math

import numpy as np
import pytest

from etl_database_spark.functions.jpeg import decode_jpeg

_QL = [  # Annex K luminance
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_QC = [  # Annex K chrominance
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _scaled(table, quality):
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [max(1, min(255, (t * s + 50) // 100)) for t in table]


def _dct_mat():
    a = np.empty((8, 8))
    for u in range(8):
        c = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
    return a


# Simple valid canonical tables: 12 DC size symbols at length 4; all
# 176 AC (run,size) symbols at length 8 — s=0 row included so EOBn
# run-length symbols (progressive) and ZRL are codable.
_DC_SYMS = list(range(12))
_AC_SYMS = [(r << 4) | s for r in range(16) for s in range(0, 11)]


def _canonical(counts_by_len):
    code = 0
    out = {}
    for length in range(1, 17):
        for sym in counts_by_len.get(length, []):
            out[sym] = (code, length)
            code += 1
        code <<= 1
    return out


_DC_CODES = _canonical({4: _DC_SYMS})
_AC_CODES = _canonical({8: _AC_SYMS})


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value, nbits):
        for i in reversed(range(nbits)):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _mag_bits(v):
    t = abs(v).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


def _encode_blocks(writer, blocks, qt, pred):
    a = _dct_mat()
    for block in blocks:
        coef = a @ (block - 128.0) @ a.T
        q = np.zeros(64, dtype=np.int64)
        flat = coef.reshape(64)
        for k in range(64):
            q[k] = int(round(flat[_ZIGZAG[k]] / qt[k]))
        t, bits = _mag_bits(int(q[0]) - pred)
        pred = int(q[0])
        c, ln = _DC_CODES[t]
        writer.write(c, ln)
        writer.write(bits, t)
        run = 0
        last = max((k for k in range(1, 64) if q[k]), default=0)
        for k in range(1, 64):
            if k > last:
                c, ln = _AC_CODES[0x00]  # EOB
                writer.write(c, ln)
                break
            if q[k] == 0:
                run += 1
                continue
            while run > 15:
                c, ln = _AC_CODES[0xF0]
                writer.write(c, ln)
                run -= 16
            t, bits = _mag_bits(int(q[k]))
            c, ln = _AC_CODES[(run << 4) | t]
            writer.write(c, ln)
            writer.write(bits, t)
            run = 0
    return pred


def _pad_to(plane, mult):
    h, w = plane.shape
    ph = (h + mult - 1) // mult * mult
    pw = (w + mult - 1) // mult * mult
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _dht_segment(cls, tid, counts_by_len):
    counts = bytes(
        len(counts_by_len.get(ln, [])) for ln in range(1, 17)
    )
    syms = bytes(s for ln in range(1, 17) for s in counts_by_len.get(ln, []))
    return bytes([(cls << 4) | tid]) + counts + syms


def _encode_jpeg(rgb, quality=92, subsample=False, gray=False, restart=0):
    """Independent baseline encoder: 4:4:4 (or 4:2:0 / grayscale),
    single shared DC and AC Huffman tables."""
    rgb = np.asarray(rgb, dtype=np.float64)
    h, w = rgb.shape[:2]
    if gray:
        planes = [0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]]
        samps = [(1, 1)]
        qids = [0]
    else:
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128
        if subsample:
            cbp = _pad_to(cb, 2)
            crp = _pad_to(cr, 2)
            cb = (cbp[0::2, 0::2] + cbp[1::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 1::2]) / 4
            cr = (crp[0::2, 0::2] + crp[1::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 1::2]) / 4
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            samps = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qids = [0, 1, 1]
    qt = [_scaled(_QL, quality), _scaled(_QC, quality)]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    # pad each plane so the MCU grid divides it exactly
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for p, (sh, sv) in zip(planes, samps):
        ph, pw = mcuy * sv * 8, mcux * sh * 8
        padded.append(
            np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        )

    out = bytearray(b"\xff\xd8")
    for tid, tab in enumerate(qt[: 1 if gray else 2]):
        seg = bytes([tid]) + bytes(tab)
        out += b"\xff\xdb" + (len(seg) + 2).to_bytes(2, "big") + seg
    ncomp = len(planes)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci, (sh, sv) in enumerate(samps):
        sof += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    for seg in (_dht_segment(0, 0, {4: _DC_SYMS}), _dht_segment(1, 0, {8: _AC_SYMS})):
        out += b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg
    if restart:
        out += b"\xff\xdd\x00\x04" + restart.to_bytes(2, "big")
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos

    writer = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    nmcu = mcux * mcuy
    for m in range(nmcu):
        if restart and m and m % restart == 0:
            writer.flush()
            out += writer.buf
            writer = _BitWriter()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
            preds = [0] * ncomp
        my, mx = divmod(m, mcux)
        for ci, (sh, sv) in enumerate(samps):
            blocks = []
            for by in range(sv):
                for bx in range(sh):
                    y0 = (my * sv + by) * 8
                    x0 = (mx * sh + bx) * 8
                    blocks.append(padded[ci][y0 : y0 + 8, x0 : x0 + 8])
            preds[ci] = _encode_blocks(writer, blocks, qt[qids[ci]], preds[ci])
    writer.flush()
    out += writer.buf + b"\xff\xd9"
    return bytes(out)


def _smooth_image(h, w, seed=5):
    """Low-frequency image: JPEG quantization error stays small."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 96 + 64 * np.sin(xx / 9 + seed) * np.cos(yy / 11)
    g = 128 + 48 * np.cos(xx / 13) * np.sin(yy / 7 + seed)
    b = 110 + 60 * np.sin((xx + yy) / 15)
    return np.clip(np.dstack([r, g, b]), 0, 255).round().astype(np.uint8)


def test_solid_color_roundtrip_near_exact():
    img = np.full((16, 24, 3), (200, 64, 120), dtype=np.uint8)
    decoded = decode_jpeg(_encode_jpeg(img, quality=95))
    assert decoded.shape == img.shape
    assert np.abs(decoded.astype(int) - img.astype(int)).max() <= 2


def test_444_roundtrip_smooth_image():
    img = _smooth_image(40, 56)
    decoded = decode_jpeg(_encode_jpeg(img, quality=95))
    assert decoded.shape == img.shape
    err = np.abs(decoded.astype(int) - img.astype(int))
    assert err.mean() < 3 and err.max() <= 24


def test_420_subsampled_roundtrip():
    img = _smooth_image(33, 41, seed=9)  # odd dims exercise padding/crop
    decoded = decode_jpeg(_encode_jpeg(img, quality=95, subsample=True))
    assert decoded.shape == img.shape
    err = np.abs(decoded.astype(int) - img.astype(int))
    assert err.mean() < 4 and err.max() <= 40


def test_grayscale_roundtrip():
    img = _smooth_image(24, 24)
    gray = (0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]).round()
    decoded = decode_jpeg(_encode_jpeg(img, quality=95, gray=True))
    assert decoded.shape == img.shape
    for c in range(3):
        err = np.abs(decoded[..., c].astype(float) - gray)
        assert err.mean() < 3 and err.max() <= 20


def test_restart_markers():
    img = _smooth_image(48, 64, seed=2)
    plain = decode_jpeg(_encode_jpeg(img, quality=95))
    with_rst = decode_jpeg(_encode_jpeg(img, quality=95, restart=3))
    assert np.array_equal(plain, with_rst)


def test_arithmetic_coded_returns_none():
    img = _smooth_image(16, 16)
    payload = bytearray(_encode_jpeg(img))
    idx = payload.index(b"\xff\xc0")
    payload[idx + 1] = 0xC9  # arithmetic-coded sequential SOF9
    assert decode_jpeg(bytes(payload)) is None


def test_truncated_jpeg_fails_loudly():
    img = _smooth_image(16, 16)
    payload = _encode_jpeg(img)
    with pytest.raises(Exception):
        decode_jpeg(payload[: len(payload) - len(payload) // 3])


# ---------------------------------------------------------------------------
# Progressive (SOF2) encoder: spectral selection + successive
# approximation with EOB-run coding, following T.81 G.1.2 (the same
# algorithm family as libjpeg's jcphuff). Independent of the decoder.


def _quantized_grids(rgb, quality, gray, subsample):
    """→ (per-comp grid[by][bx] of 64-int zigzag blocks padded to the
    MCU grid, samps, qids, qt, mcux, mcuy, h, w)."""
    rgb = np.asarray(rgb, dtype=np.float64)
    h, w = rgb.shape[:2]
    if gray:
        planes = [0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]]
        samps, qids = [(1, 1)], [0]
    else:
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128
        if subsample:
            cbp, crp = _pad_to(cb, 2), _pad_to(cr, 2)
            cb = (cbp[0::2, 0::2] + cbp[1::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 1::2]) / 4
            cr = (crp[0::2, 0::2] + crp[1::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 1::2]) / 4
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            samps = [(1, 1)] * 3
        planes, qids = [y, cb, cr], [0, 1, 1]
    qt = [_scaled(_QL, quality), _scaled(_QC, quality)]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    a = _dct_mat()
    grids = []
    for (sh, sv), p, qid in zip(samps, planes, qids):
        ph, pw = mcuy * sv * 8, mcux * sh * 8
        padded = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        grid = []
        for by in range(mcuy * sv):
            row = []
            for bx in range(mcux * sh):
                coef = a @ (padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0) @ a.T
                flat = coef.reshape(64)
                row.append(
                    [int(round(flat[_ZIGZAG[k]] / qt[qid][k])) for k in range(64)]
                )
            grid.append(row)
        grids.append(grid)
    return grids, samps, qids, qt, mcux, mcuy, h, w


class _ProgState:
    def __init__(self):
        self.eobrun = 0
        self.pending = []  # correction bits riding with the EOB run


def _flush_eobrun(writer, st):
    if st.eobrun:
        nb = st.eobrun.bit_length() - 1
        c, ln = _AC_CODES[nb << 4]
        writer.write(c, ln)
        if nb:
            writer.write(st.eobrun - (1 << nb), nb)
        for b in st.pending:
            writer.write(b, 1)
        st.eobrun = 0
        st.pending = []


def _emit_ac_first_block(writer, st, zz, ss, se, al):
    run = 0
    for k in range(ss, se + 1):
        v = zz[k]
        t = abs(v) >> al
        if t == 0:
            run += 1
            continue
        _flush_eobrun(writer, st)
        while run > 15:
            c, ln = _AC_CODES[0xF0]
            writer.write(c, ln)
            run -= 16
        nb, bits = _mag_bits(t if v > 0 else -t)
        c, ln = _AC_CODES[(run << 4) | nb]
        writer.write(c, ln)
        writer.write(bits, nb)
        run = 0
    if run > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(writer, st)


def _emit_ac_refine_block(writer, st, zz, ss, se, al):
    absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
    eob = ss - 1
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    run = 0
    br = []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            _flush_eobrun(writer, st)
            c, ln = _AC_CODES[0xF0]
            writer.write(c, ln)
            for b in br:
                writer.write(b, 1)
            br = []
            run -= 16
        if t > 1:
            br.append(t & 1)
            continue
        _flush_eobrun(writer, st)
        c, ln = _AC_CODES[(run << 4) | 1]
        writer.write(c, ln)
        writer.write(1 if zz[k] > 0 else 0, 1)
        for b in br:
            writer.write(b, 1)
        br = []
        run = 0
    if run > 0 or br:
        st.eobrun += 1
        st.pending.extend(br)
        if st.eobrun == 0x7FFF:
            _flush_eobrun(writer, st)


def _encode_jpeg_progressive(rgb, quality=92, gray=False, subsample=False, script=None):
    grids, samps, qids, qt, mcux, mcuy, h, w = _quantized_grids(
        rgb, quality, gray, subsample
    )
    ncomp = len(grids)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    if script is None:
        script = (
            [([0], 0, 0, 0, 1), ([0], 1, 63, 0, 2),
             ([0], 1, 63, 2, 1), ([0], 0, 0, 1, 0), ([0], 1, 63, 1, 0)]
            if ncomp == 1
            else [([0, 1, 2], 0, 0, 0, 1), ([0], 1, 5, 0, 2), ([1], 1, 63, 0, 1),
                  ([2], 1, 63, 0, 1), ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
                  ([0, 1, 2], 0, 0, 1, 0), ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0),
                  ([0], 1, 63, 1, 0)]
        )

    out = bytearray(b"\xff\xd8")
    for tid, tab in enumerate(qt[: 1 if gray else 2]):
        seg = bytes([tid]) + bytes(tab)
        out += b"\xff\xdb" + (len(seg) + 2).to_bytes(2, "big") + seg
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci, (sh, sv) in enumerate(samps):
        sof += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    out += b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof
    for seg in (_dht_segment(0, 0, {4: _DC_SYMS}), _dht_segment(1, 0, {8: _AC_SYMS})):
        out += b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg

    for comps, ss, se, ah, al in script:
        sos = bytes([len(comps)])
        for ci in comps:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
        writer = _BitWriter()
        st = _ProgState()
        if ss == 0:  # DC scan
            preds = {ci: 0 for ci in comps}
            if len(comps) > 1:  # interleaved over MCUs
                for m in range(mcux * mcuy):
                    my, mx = divmod(m, mcux)
                    for ci in comps:
                        sh, sv = samps[ci]
                        for by in range(sv):
                            for bx in range(sh):
                                dc = grids[ci][my * sv + by][mx * sh + bx][0]
                                if ah == 0:
                                    v = dc >> al
                                    nb, bits = _mag_bits(v - preds[ci])
                                    preds[ci] = v
                                    c, ln = _DC_CODES[nb]
                                    writer.write(c, ln)
                                    writer.write(bits, nb)
                                else:
                                    writer.write((dc >> al) & 1, 1)
            else:
                ci = comps[0]
                sh, sv = samps[ci]
                nbx = ((w * sh + hmax - 1) // hmax + 7) // 8
                nby = ((h * sv + vmax - 1) // vmax + 7) // 8
                for m in range(nbx * nby):
                    by, bx = divmod(m, nbx)
                    dc = grids[ci][by][bx][0]
                    if ah == 0:
                        v = dc >> al
                        nb, bits = _mag_bits(v - preds[ci])
                        preds[ci] = v
                        c, ln = _DC_CODES[nb]
                        writer.write(c, ln)
                        writer.write(bits, nb)
                    else:
                        writer.write((dc >> al) & 1, 1)
        else:  # AC scan: single component, non-interleaved
            ci = comps[0]
            sh, sv = samps[ci]
            nbx = ((w * sh + hmax - 1) // hmax + 7) // 8
            nby = ((h * sv + vmax - 1) // vmax + 7) // 8
            for m in range(nbx * nby):
                by, bx = divmod(m, nbx)
                zz = grids[ci][by][bx]
                if ah == 0:
                    _emit_ac_first_block(writer, st, zz, ss, se, al)
                else:
                    _emit_ac_refine_block(writer, st, zz, ss, se, al)
            _flush_eobrun(writer, st)
        writer.flush()
        out += writer.buf
    return bytes(out) + b"\xff\xd9"


def test_progressive_matches_baseline_444():
    img = _smooth_image(40, 56, seed=4)
    base = decode_jpeg(_encode_jpeg(img, quality=92))
    prog = decode_jpeg(_encode_jpeg_progressive(img, quality=92))
    assert prog is not None
    assert np.array_equal(base, prog), (
        f"max diff {np.abs(base.astype(int) - prog.astype(int)).max()}"
    )


def test_progressive_matches_baseline_420_odd_dims():
    img = _smooth_image(33, 41, seed=8)
    base = decode_jpeg(_encode_jpeg(img, quality=92, subsample=True))
    prog = decode_jpeg(_encode_jpeg_progressive(img, quality=92, subsample=True))
    assert np.array_equal(base, prog)


def test_progressive_matches_baseline_grayscale():
    img = _smooth_image(24, 24, seed=6)
    base = decode_jpeg(_encode_jpeg(img, quality=92, gray=True))
    prog = decode_jpeg(_encode_jpeg_progressive(img, quality=92, gray=True))
    assert np.array_equal(base, prog)


def test_progressive_spectral_only_script():
    """Spectral selection without successive approximation (Al=0
    everywhere) — a different legal scan script."""
    img = _smooth_image(32, 48, seed=12)
    script = [
        ([0, 1, 2], 0, 0, 0, 0),
        ([0], 1, 20, 0, 0), ([0], 21, 63, 0, 0),
        ([1], 1, 63, 0, 0), ([2], 1, 63, 0, 0),
    ]
    base = decode_jpeg(_encode_jpeg(img, quality=92))
    prog = decode_jpeg(_encode_jpeg_progressive(img, quality=92, script=script))
    assert np.array_equal(base, prog)


def test_progressive_noisy_image_exercises_eob_runs():
    """High-frequency noise → many EOB runs, ZRLs, and refinement
    corrections; still exact vs baseline."""
    rng = np.random.RandomState(19)
    img = rng.randint(0, 256, size=(48, 48, 3)).astype(np.uint8)
    base = decode_jpeg(_encode_jpeg(img, quality=85))
    prog = decode_jpeg(_encode_jpeg_progressive(img, quality=85))
    assert np.array_equal(base, prog)


def test_progressive_random_scan_scripts_property():
    """Hypothesis-style fuzz: random legal scan scripts (random band
    splits, random successive-approximation ladders) must all decode
    to exactly the baseline reconstruction."""
    import random

    rng = random.Random(23)
    img = _smooth_image(24, 40, seed=3)
    base = decode_jpeg(_encode_jpeg(img, quality=90))
    for trial in range(6):
        al_dc = rng.randint(0, 2)
        script = []
        # DC ladder: first at al_dc, then refinements down to 0
        script.append(([0, 1, 2], 0, 0, 0, al_dc))
        for a in range(al_dc, 0, -1):
            script.append(([0, 1, 2], 0, 0, a, a - 1))
        # AC: per component, random band split and random SA depth
        for ci in range(3):
            split = rng.randint(1, 62)
            al_ac = rng.randint(0, 2)
            script.append(([ci], 1, split, 0, al_ac))
            script.append(([ci], split + 1, 63, 0, al_ac))
            for a in range(al_ac, 0, -1):
                script.append(([ci], 1, split, a, a - 1))
                script.append(([ci], split + 1, 63, a, a - 1))
        prog = decode_jpeg(_encode_jpeg_progressive(img, quality=90, script=script))
        assert np.array_equal(base, prog), f"trial {trial} script {script}"
