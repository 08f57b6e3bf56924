"""JPEG (ITU-T T.81) decoder in pure numpy + stdlib.

Scope: Huffman-coded baseline (SOF0) and progressive (SOF2) — the two
variants that cover essentially all real-world JPEG — with 8-bit
samples, grayscale or YCbCr (JFIF), arbitrary sampling factors
(4:4:4 / 4:2:2 / 4:2:0), restart markers, and for progressive both
spectral selection and successive approximation (DC/AC first +
refinement scans with EOB-run coding, T.81 G.2). Arithmetic coding,
hierarchical mode, and 12-bit precision return ``None`` so the
caller's real-codec slot stays explicit; corrupt streams raise rather
than yield wrong pixels.

A standalone decoder: no ingest path or registered query calls it. A
caller should hand it only the rows selected for decoding,
Arrow-batched through mapInPandas, so Python-speed Huffman walking
stays acceptable; swap in an imaging library for bulk pixel work.
Extension scope — the reference repo has no image path at all.
"""

from __future__ import annotations

import math

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_IDCT_A = None  # lazy 8x8 orthonormal DCT matrix


def _dct_matrix():
    global _IDCT_A
    if _IDCT_A is None:
        import numpy as np

        a = np.empty((8, 8))
        for u in range(8):
            c = math.sqrt(0.5) if u == 0 else 1.0
            for x in range(8):
                a[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
        _IDCT_A = a
    return _IDCT_A


def _build_huffman(counts: bytes, symbols: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman per T.81 Annex C → {(bitlen, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first entropy-coded-segment reader with 0xFF00 unstuffing.
    Restart markers are consumed only via ``restart()``; hitting any
    other marker mid-stream raises."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            marker = self.data[self.pos]
            if marker == 0x00:
                self.pos += 1
            else:
                raise ValueError(f"unexpected marker 0xFF{marker:02X} in scan")
        # Mask consumed high bits before shifting: without this the
        # accumulator grows by ~7 bits per byte for the whole scan and
        # every bit extraction turns O(image size).
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, expected: int) -> None:
        """Byte-align and consume the RSTn marker."""
        self.acc = 0
        self.nbits = 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + expected:
            raise ValueError("missing restart marker")
        self.pos += 2

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_block(r: _BitReader, dc_tbl, ac_tbl, qt, pred: int):
    """One 8x8 block → (natural-order dequantized coefficient matrix,
    new DC predictor)."""
    import numpy as np

    coef = np.zeros(64)
    t = r.decode_symbol(dc_tbl)
    pred += _extend(r.read_bits(t), t) if t else 0
    coef[0] = pred * qt[0]
    k = 1
    while k < 64:
        rs = r.decode_symbol(ac_tbl)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        coef[k] = _extend(r.read_bits(size), size) * qt[k]
        k += 1
    block = np.zeros(64)
    block[_ZIGZAG] = coef
    return block.reshape(8, 8), pred


def decode_jpeg(payload: bytes):
    """Baseline (SOF0) or progressive (SOF2) JPEG → HxWx3 uint8 RGB
    array (grayscale replicated), or None outside that envelope
    (arithmetic coding, hierarchical, 12-bit)."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None
    coeffs = None  # progressive: per-comp quantized coefficient grids
    restart_interval = 0
    pos = 2
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        ln = int.from_bytes(payload[pos : pos + 2], "big")
        seg = payload[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if prec == 0:
                    qtables[tid] = list(seg[i : i + 64])
                    i += 64
                else:
                    qtables[tid] = [
                        int.from_bytes(seg[i + 2 * j : i + 2 * j + 2], "big")
                        for j in range(64)
                    ]
                    i += 128
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                counts = seg[i + 1 : i + 17]
                n = sum(counts)
                symbols = seg[i + 17 : i + 17 + n]
                huff[(cls, tid)] = _build_huffman(counts, symbols)
                i += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            precision = seg[0]
            if precision != 8:
                return None
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, samp, qid = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "q": qid})
            frame = {"h": h, "w": w, "comps": comps, "prog": marker == 0xC2}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # non-baseline/progressive frame → real-codec slot
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_tbl = {}
            scan_cids = []
            for c in range(ns):
                cid, tids = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_tbl[cid] = (tids >> 4, tids & 0x0F)
                scan_cids.append(cid)
            if not frame["prog"]:
                return _decode_scan(
                    payload, pos + ln, frame, scan_tbl, qtables, huff, restart_interval
                )
            band = (
                seg[1 + 2 * ns],
                seg[2 + 2 * ns],
                seg[3 + 2 * ns] >> 4,
                seg[3 + 2 * ns] & 0x0F,
            )
            if coeffs is None:
                hmax = max(c["h"] for c in frame["comps"])
                vmax = max(c["v"] for c in frame["comps"])
                mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
                mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
                coeffs = [
                    np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
                    for c in frame["comps"]
                ]
            pos = _progressive_scan(
                payload, pos + ln, frame, scan_cids, scan_tbl, band,
                huff, restart_interval, coeffs,
            )
            continue
        pos += ln
    if frame is not None and frame["prog"] and coeffs is not None:
        return _reconstruct_progressive(frame, coeffs, qtables)
    raise ValueError("no scan data in JPEG")


def _skip_to_marker(data: bytes, pos: int) -> int:
    """Advance past entropy-coded data (and any RST markers) to the
    next 'real' marker boundary."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] != 0x00:
            if 0xD0 <= data[pos + 1] <= 0xD7:
                pos += 2
                continue
            return pos
        pos += 1
    raise ValueError("unterminated scan")


def _dc_first(r, blk, dc_tbl, pred: int, al: int) -> int:
    t = r.decode_symbol(dc_tbl)
    pred += _extend(r.read_bits(t), t) if t else 0
    blk[0] = pred << al
    return pred


def _dc_refine(r, blk, al: int) -> None:
    if r.read_bit():
        blk[0] = int(blk[0]) | (1 << al)


def _ac_first(r, blk, ac_tbl, ss, se, al, eobrun: int) -> int:
    """T.81 G.2: first pass over an AC band with EOB-run coding."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = r.decode_symbol(ac_tbl)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += r.read_bits(run)
            break
        k += run
        if k > se:
            raise ValueError("AC coefficient outside spectral band")
        blk[k] = _extend(r.read_bits(size), size) << al
        k += 1
    return eobrun


def _ac_refine(r, blk, ac_tbl, ss, se, al, eobrun: int) -> int:
    """T.81 G.2 successive-approximation refinement of an AC band:
    newly nonzero coefficients arrive as ±1<<Al; every already-nonzero
    coefficient passed over contributes one correction bit."""
    p1, m1 = 1 << al, -1 << al

    def correct(k: int) -> None:
        cur = int(blk[k])
        if r.read_bit() and not (cur & p1):
            blk[k] = cur + (p1 if cur >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = r.decode_symbol(ac_tbl)
            run, size = rs >> 4, rs & 0x0F
            val = 0
            if size == 0:
                if run < 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += r.read_bits(run)
                    break
                # run == 15: ZRL — skip 16 zero-history positions
            else:
                if size != 1:
                    raise ValueError("bad refinement magnitude size")
                val = p1 if r.read_bit() else m1
            while k <= se:
                if int(blk[k]) != 0:
                    correct(k)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if int(blk[k]) != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _progressive_scan(
    payload, pos, frame, scan_cids, scan_tbl, band, huff, restart_interval, coeffs
):
    """Decode one progressive scan into the coefficient grids; returns
    the offset of the next marker after the entropy data."""
    ss, se, ah, al = band
    comps = frame["comps"]
    by_id = {c["id"]: (ci, c) for ci, c in enumerate(comps)}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    r = _BitReader(payload, pos)
    eobrun = 0
    preds = {cid: 0 for cid in scan_cids}
    rst = 0
    if ss == 0 and se != 0:
        raise ValueError("DC scan must have Se=0")
    if ss > 0 and len(scan_cids) != 1:
        raise ValueError("AC scans are single-component")

    interleaved = len(scan_cids) > 1
    if interleaved:
        units = mcux * mcuy
    else:
        ci, c = by_id[scan_cids[0]]
        cw = (w * c["h"] + hmax - 1) // hmax
        chh = (h * c["v"] + vmax - 1) // vmax
        nbx = (cw + 7) // 8
        nby = (chh + 7) // 8
        units = nbx * nby

    for m in range(units):
        if restart_interval and m and m % restart_interval == 0:
            r.restart(rst)
            rst = (rst + 1) & 7
            preds = {cid: 0 for cid in preds}
            eobrun = 0
        if interleaved:  # DC scan over full MCUs
            my, mx = divmod(m, mcux)
            for cid in scan_cids:
                ci, c = by_id[cid]
                dc_id = scan_tbl[cid][0]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = coeffs[ci][my * c["v"] + by, mx * c["h"] + bx]
                        if ah == 0:
                            preds[cid] = _dc_first(
                                r, blk, huff[(0, dc_id)], preds[cid], al
                            )
                        else:
                            _dc_refine(r, blk, al)
        else:
            cid = scan_cids[0]
            ci, c = by_id[cid]
            by, bx = divmod(m, nbx)
            blk = coeffs[ci][by, bx]
            if ss == 0:
                dc_id = scan_tbl[cid][0]
                if ah == 0:
                    preds[cid] = _dc_first(r, blk, huff[(0, dc_id)], preds[cid], al)
                else:
                    _dc_refine(r, blk, al)
            else:
                ac_tbl = huff[(1, scan_tbl[cid][1])]
                if ah == 0:
                    eobrun = _ac_first(r, blk, ac_tbl, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine(r, blk, ac_tbl, ss, se, al, eobrun)
    return _skip_to_marker(payload, r.pos)


def _reconstruct_progressive(frame, coeffs, qtables):
    """Dequantize + IDCT the accumulated coefficient grids."""
    import numpy as np

    a = _dct_matrix()
    comps = frame["comps"]
    planes = []
    for ci, c in enumerate(comps):
        qt = np.asarray(qtables[c["q"]], dtype=np.float64)
        grid = coeffs[ci]
        nby, nbx = grid.shape[:2]
        plane = np.empty((nby * 8, nbx * 8))
        block = np.zeros(64)
        for by in range(nby):
            for bx in range(nbx):
                block[_ZIGZAG] = grid[by, bx] * qt
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    a.T @ block.reshape(8, 8) @ a + 128.0
                )
        planes.append(plane)
    return _planes_to_rgb(frame, planes)


def _decode_scan(payload, pos, frame, scan_tbl, qtables, huff, restart_interval):
    import numpy as np

    a = _dct_matrix()
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8)) for c in comps
    ]
    preds = [0] * len(comps)
    r = _BitReader(payload, pos)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            r.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, c in enumerate(comps):
            dc_id, ac_id = scan_tbl[c["id"]]
            qt = qtables[c["q"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    block, preds[ci] = _decode_block(
                        r, huff[(0, dc_id)], huff[(1, ac_id)], qt, preds[ci]
                    )
                    px = a.T @ block @ a + 128.0
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
    return _planes_to_rgb(frame, planes)


def _planes_to_rgb(frame, planes):
    """Upsample component planes to full resolution, crop, and apply
    the JFIF color transform (shared by the baseline and progressive
    paths)."""
    import numpy as np

    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        g = np.clip(out[0], 0, 255)
        return np.dstack([g, g, g]).round().astype(np.uint8)
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.dstack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb]
    )
    return np.clip(rgb, 0, 255).round().astype(np.uint8)
