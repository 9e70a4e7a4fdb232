"""Baseline JPEG codec (ITU-T T.81, public spec) — pure numpy, no external
codec libraries. Completes the image-codec seam next to kernels/png.py:
`decode_external('jpeg')` becomes real, so archival scans shipped as JPEG
payloads decode inside the Arrow batch loop (the reference ingests pages via
cv2.imread — utils.py:477-497; this is the engine's equivalent).

Decoder (the interop-critical half): baseline sequential DCT (SOF0/1) AND
progressive DCT (SOF2 — spectral selection + successive approximation per
Annex G, round 4; archival scan corpora are full of progressive files),
8-bit, grayscale or YCbCr with arbitrary sampling factors up to 2×2
(4:4:4 / 4:2:2 / 4:2:0), Huffman and quantization tables read FROM THE
STREAM (so files produced by libjpeg/PIL decode too), byte-unstuffing,
restart intervals (DRI/RSTn with DC-predictor reset). Both modes share one
path: scans accumulate quantized coefficients; dequantize+IDCT runs at
EOI. Lossless (SOF3+) and arithmetic coding are rejected with a clear
error.

Encoder (offline test vector source + genuine encode capability):
4:4:4 or 4:2:0, quality-scaled Annex-K quantization tables, fixed-length
canonical Huffman codes (12 DC symbols at 5 bits, 162 AC symbols at 8 bits —
valid per the DHT canonical-code rules and self-describing in the stream;
optimal tables would shave bytes, but the engine's compression format of
choice is PNG — JPEG encode exists for interop and for exercising every
decoder path, including restart intervals). encode_jpeg_progressive emits
a 4-kind scan script (DC first/refine, per-component AC first/refine with
EOB-run coding) whose full transmission makes progressive decode
BIT-IDENTICAL to baseline decode — the progressive test oracle.

The DCT is the exact orthonormal matrix form (C·block·Cᵀ), so decode is the
true inverse of encode up to quantization error — round-trip PSNR is the
test oracle.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegError(ValueError):
    pass


# --- shared constants -----------------------------------------------------

def _zigzag_order():
    """(64,) flat indices of the zigzag scan over an 8×8 block, generated
    from the diagonal rule (T.81 Figure A.6)."""
    order = []
    for s in range(15):
        cells = [(i, s - i) for i in range(max(0, s - 7), min(7, s) + 1)]
        if s % 2 == 0:
            cells = cells[::-1]  # even diagonals run bottom-left → top-right
        order.extend(i * 8 + j for i, j in cells)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.1/K.2 base quantization tables (row-major)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)


def _quality_scale(tbl: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 → scaled table clamped to [1, 255]."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 / q if q < 50 else 200 - 2 * q
    out = np.floor((tbl * scale + 50) / 100)
    return np.clip(out, 1, 255)


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    k = n.reshape(8, 1)
    c = np.cos((2 * n + 1) * k * np.pi / 16)
    c[0] *= np.sqrt(0.5)
    return c * 0.5  # orthonormal: C @ C.T = I


_C = _dct_matrix()


def _fdct(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


# --- canonical Huffman ------------------------------------------------------

def _build_codes(counts, symbols):
    """DHT (16 counts + symbol list) → {symbol: (code, length)} canonical
    assignment (T.81 Annex C)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """Length-indexed canonical decode table: (first_code, first_index) per
    length, symbol lookup by offset — the Annex F.2.2 procedure."""

    def __init__(self, counts, symbols):
        self.symbols = symbols
        self.min_code = {}
        self.max_code = {}
        self.val_ptr = {}
        code = 0
        k = 0
        for length in range(1, 17):
            n = counts[length - 1]
            if n:
                self.val_ptr[length] = k
                self.min_code[length] = code
                self.max_code[length] = code + n - 1
                code += n
                k += n
            else:
                self.max_code[length] = -1
            code <<= 1

    def decode(self, reader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | reader.read_bit()
            mx = self.max_code.get(length, -1)
            if mx >= 0 and code <= mx:
                return self.symbols[self.val_ptr[length] + code - self.min_code[length]]
        raise JpegError("invalid Huffman code in entropy stream")


# fixed-length encoder tables (valid canonical codes; see module docstring)
_DC_SYMBOLS = list(range(12))
_DC_COUNTS = [0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_COUNTS = [0, 0, 0, 0, 0, 0, 0, len(_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0]
_DC_CODES = _build_codes(_DC_COUNTS, _DC_SYMBOLS)
_AC_CODES = _build_codes(_AC_COUNTS, _AC_SYMBOLS)


# --- bit I/O ------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise JpegError("entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                else:
                    # a real marker: behave as EOI-padded stream
                    self.pos -= 1
                    b = 0
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self):
        self.nbits = 0

    def skip_rst(self):
        """Consume an expected RSTn marker at a restart boundary."""
        self.align()
        if self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF and (
            0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise JpegError("missing restart marker")


def _magnitude(v: int):
    """coefficient → (size, raw bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    raw = v if v >= 0 else v + (1 << size) - 1
    return size, raw


def _extend(raw: int, size: int) -> int:
    if size == 0:
        return 0
    if raw < (1 << (size - 1)):
        return raw - (1 << size) + 1
    return raw


# --- encoder --------------------------------------------------------------------

def _rgb_to_ycbcr(img: np.ndarray):
    r, g, b = img[..., 0].astype(np.float64), img[..., 1].astype(np.float64), img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _ycbcr_to_rgb(y, cb, cr):
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _pad_to(plane: np.ndarray, h: int, w: int) -> np.ndarray:
    ph, pw = plane.shape
    return np.pad(plane, ((0, h - ph), (0, w - pw)), mode="edge")


def _encode_block(writer, block, qtbl, prev_dc, dc_codes, ac_codes) -> int:
    coef = np.rint(_fdct(block - 128.0) / qtbl).astype(np.int64)
    zz = coef.ravel()[ZIGZAG]
    dc = int(zz[0])
    size, raw = _magnitude(dc - prev_dc)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(raw, size)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]
            writer.write(c, ln)
            run -= 16
        size, raw = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        writer.write(c, ln)
        writer.write(raw, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]
        writer.write(c, ln)
    return dc


def _dht_segment(tclass: int, tid: int, counts, symbols) -> bytes:
    body = bytes([tclass << 4 | tid]) + bytes(counts) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tid: int, qtbl: np.ndarray) -> bytes:
    body = bytes([tid]) + bytes(int(v) for v in qtbl.ravel()[ZIGZAG])
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    image: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(H, W) gray or (H, W, 3) RGB uint8 → baseline JPEG bytes.
    subsample=True uses 4:2:0 chroma (2×2 box average), else 4:4:4.
    restart_interval > 0 emits DRI + RSTn every N MCUs."""
    arr = np.asarray(image)
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise JpegError(f"expected uint8 (H,W[,3]) image, got {arr.dtype}/{arr.shape}")
    h, w = arr.shape[:2]
    gray = arr.ndim == 2

    qy = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)

    if gray:
        comps = [(arr.astype(np.float64), qy, 1, 1, 0)]
    else:
        y, cb, cr = _rgb_to_ycbcr(arr)
        if subsample:
            eh, ew = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            cbp = _pad_to(cb, eh, ew).reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            crp = _pad_to(cr, eh, ew).reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            comps = [(y, qy, 2, 2, 0), (cbp, qc, 1, 1, 1), (crp, qc, 1, 1, 1)]
        else:
            comps = [(y, qy, 1, 1, 0), (cb, qc, 1, 1, 1), (cr, qc, 1, 1, 1)]

    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    padded = []
    for plane, qt, hf, vf, qid in comps:
        ph, pw = mcus_y * vf * 8, mcus_x * hf * 8
        padded.append((_pad_to(plane, ph, pw), qt, hf, vf, qid))

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += _dqt_segment(0, qy)
    if not gray:
        out += _dqt_segment(1, qc)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for i, (_, _, hf, vf, qid) in enumerate(padded, start=1):
        sof += bytes([i, (hf << 4) | vf, qid])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_COUNTS, _DC_SYMBOLS)
    out += _dht_segment(1, 0, _AC_COUNTS, _AC_SYMBOLS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp])
    for i in range(1, ncomp + 1):
        sos += bytes([i, 0x00])  # DC/AC table 0 for every component
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    writer = _BitWriter()
    prev_dc = [0] * ncomp
    rst = 0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                out += writer.out
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                writer = _BitWriter()
                prev_dc = [0] * ncomp
            for ci, (plane, qt, hf, vf, _) in enumerate(padded):
                for by in range(vf):
                    for bx in range(hf):
                        y0 = (my * vf + by) * 8
                        x0 = (mx * hf + bx) * 8
                        block = plane[y0:y0 + 8, x0:x0 + 8]
                        prev_dc[ci] = _encode_block(
                            writer, block, qt, prev_dc[ci], _DC_CODES, _AC_CODES
                        )
            mcu_count += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive encoder ---------------------------------------------------------

# progressive AC table: baseline's (run, size) symbols plus the EOBn symbols
# (r<<4 | 0, r=1..14) progressive EOB runs need; still one fixed code length
_ACP_SYMBOLS = [0x00, 0xF0] + [r << 4 for r in range(1, 15)] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_ACP_COUNTS = [0, 0, 0, 0, 0, 0, 0, 0, len(_ACP_SYMBOLS), 0, 0, 0, 0, 0, 0, 0]
_ACP_CODES = _build_codes(_ACP_COUNTS, _ACP_SYMBOLS)


class _ProgWriter(_BitWriter):
    """BitWriter + the progressive encoder's deferred state (T.81
    G.1.2.2-3, libjpeg jcphuff bookkeeping): a pending EOB run plus the
    correction bits that belong to the run's blocks (be_bits) — flushed
    together as EOBn — while the CURRENT block's correction bits travel
    separately and flush right after the next in-block symbol."""

    def __init__(self):
        super().__init__()
        self.eobrun = 0
        self.be_bits = []  # correction bits owned by the pending EOB run

    def emit_eobrun(self):
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            c, ln = _ACP_CODES[r << 4]
            self.write(c, ln)
            if r:
                self.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
            for b in self.be_bits:
                self.write(b, 1)
            self.be_bits = []

    def add_eob(self, pend=()):
        self.eobrun += 1
        self.be_bits.extend(pend)
        if self.eobrun == 0x7FFF:  # EOBn caps at r=14 → run of 32767
            self.emit_eobrun()


def _quantized_blocks(image: np.ndarray, quality: int, subsample: bool):
    """Shared front half of both encoders: component planes → per-component
    (nby, nbx, 64) zigzag-quantized int coefficient grids + frame layout."""
    arr = np.asarray(image)
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise JpegError(f"expected uint8 (H,W[,3]) image, got {arr.dtype}/{arr.shape}")
    h, w = arr.shape[:2]
    gray = arr.ndim == 2
    qy = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)
    if gray:
        comps = [(arr.astype(np.float64), qy, 1, 1, 0)]
    else:
        y, cb, cr = _rgb_to_ycbcr(arr)
        if subsample:
            eh, ew = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            cbp = _pad_to(cb, eh, ew).reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            crp = _pad_to(cr, eh, ew).reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            comps = [(y, qy, 2, 2, 0), (cbp, qc, 1, 1, 1), (crp, qc, 1, 1, 1)]
        else:
            comps = [(y, qy, 1, 1, 0), (cb, qc, 1, 1, 1), (cr, qc, 1, 1, 1)]
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    grids = []
    for plane, qt, hf, vf, qid in comps:
        nby, nbx = mcus_y * vf, mcus_x * hf
        p = _pad_to(plane, nby * 8, nbx * 8)
        blocks = p.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
        # batched _fdct with the SAME association order as the per-block
        # encoder ((C @ B) @ C.T): a different contraction order can flip
        # np.rint at a .5 boundary and desync one coefficient vs baseline
        coef = np.matmul(np.matmul(_C, blocks), _C.T)
        q = np.rint(coef / qt).astype(np.int64).reshape(nby, nbx, 64)
        zz = q[:, :, ZIGZAG]
        # non-interleaved scans cover only the SAMPLED block grid
        # (T.81 A.2.2), which can be smaller than the MCU-padded grid
        sh, sw = plane.shape
        grids.append({
            "zz": zz, "h": hf, "v": vf, "q": qid,
            "nby_s": -(-sh // 8), "nbx_s": -(-sw // 8),
        })
    return {
        "h": h, "w": w, "gray": gray, "qy": qy, "qc": qc,
        "mcus_x": mcus_x, "mcus_y": mcus_y, "grids": grids,
    }


def _sos_segment(comp_tables, ss, se, ah, al) -> bytes:
    body = bytes([len(comp_tables)])
    for cid, dc_tid, ac_tid in comp_tables:
        body += bytes([cid, (dc_tid << 4) | ac_tid])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body


def _encode_dc_scan(layout, al, refine: bool) -> bytes:
    """Interleaved DC scan: first (diff-coded at precision al) or
    refinement (one bit per block)."""
    writer = _BitWriter()
    grids = layout["grids"]
    prev = [0] * len(grids)
    for my in range(layout["mcus_y"]):
        for mx in range(layout["mcus_x"]):
            for gi, g in enumerate(grids):
                for by in range(g["v"]):
                    for bx in range(g["h"]):
                        dc = int(g["zz"][my * g["v"] + by, mx * g["h"] + bx, 0])
                        if refine:
                            writer.write((dc >> al) & 1, 1)
                        else:
                            v = dc >> al
                            size, raw = _magnitude(v - prev[gi])
                            prev[gi] = v
                            c, ln = _DC_CODES[size]
                            writer.write(c, ln)
                            if size:
                                writer.write(raw, size)
    writer.flush()
    return bytes(writer.out)


def _encode_ac_first_scan(g, ss, se, al) -> bytes:
    """Single-component AC first scan with EOB-run coding (T.81 G.1.2.2)."""
    w = _ProgWriter()
    for by in range(g["nby_s"]):
        for bx in range(g["nbx_s"]):
            zz = g["zz"][by, bx]
            run = 0
            emitted = False
            for k in range(ss, se + 1):
                v = int(zz[k])
                v = (abs(v) >> al) * (1 if v >= 0 else -1)
                if v == 0:
                    run += 1
                    continue
                w.emit_eobrun()
                while run > 15:
                    c, ln = _ACP_CODES[0xF0]
                    w.write(c, ln)
                    run -= 16
                size, raw = _magnitude(v)
                c, ln = _ACP_CODES[(run << 4) | size]
                w.write(c, ln)
                w.write(raw, size)
                run = 0
                emitted = True
            if run > 0 or not emitted:
                w.add_eob()
    w.emit_eobrun()
    w.flush()
    return bytes(w.out)


def _encode_ac_refine_scan(g, ss, se, al) -> bytes:
    """Single-component AC refinement scan (T.81 G.1.2.3, libjpeg
    jcphuff-structured): newly-significant coefficients (|v|>>al == 1) are
    coded as (run-of-zero-history, 1) + sign; already-nonzero-history
    coefficients contribute correction bits, buffered per block and flushed
    after the next in-block symbol — or folded into the EOB run."""
    w = _ProgWriter()
    for by in range(g["nby_s"]):
        for bx in range(g["nbx_s"]):
            zz = g["zz"][by, bx]
            absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
            # last newly-significant index (band-relative); ZRLs are only
            # worth emitting up to here — trailing zeros fold into the EOB
            eob_rel = -1
            for i, t in enumerate(absv):
                if t == 1:
                    eob_rel = i
            run = 0
            pend = []  # current block's correction bits since last symbol
            for i, t in enumerate(absv):
                if t == 0:
                    run += 1
                    continue
                while run > 15 and i <= eob_rel:
                    w.emit_eobrun()
                    c, ln = _ACP_CODES[0xF0]
                    w.write(c, ln)
                    for b in pend:
                        w.write(b, 1)
                    pend = []
                    run -= 16
                if t > 1:
                    pend.append(t & 1)
                    continue
                # t == 1: newly significant at this precision
                w.emit_eobrun()
                c, ln = _ACP_CODES[(run << 4) | 1]
                w.write(c, ln)
                w.write(1 if int(zz[ss + i]) > 0 else 0, 1)
                for b in pend:
                    w.write(b, 1)
                pend = []
                run = 0
            if run > 0 or pend:
                w.add_eob(pend)
    w.emit_eobrun()
    w.flush()
    return bytes(w.out)


def encode_jpeg_progressive(
    image: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    successive: bool = True,
) -> bytes:
    """(H, W) gray or (H, W, 3) RGB uint8 → PROGRESSIVE JPEG (SOF2).

    Scan script (successive=True — exercises all four scan kinds the
    decoder implements): interleaved DC first at Al=1 → DC refinement →
    per-component AC 1..63 first at Al=1 → per-component AC refinement.
    successive=False emits spectral selection only (DC then AC at Al=0).

    The full script transmits every quantized coefficient bit, so
    decode(encode_jpeg_progressive(x)) == decode(encode_jpeg(x)) EXACTLY —
    the test oracle for the progressive decoder."""
    layout = _quantized_blocks(image, quality, subsample)
    grids = layout["grids"]
    ncomp = len(grids)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += _dqt_segment(0, layout["qy"])
    if not layout["gray"]:
        out += _dqt_segment(1, layout["qc"])
    sof = bytes([8]) + struct.pack(">HH", layout["h"], layout["w"]) + bytes([ncomp])
    for i, g in enumerate(grids, start=1):
        sof += bytes([i, (g["h"] << 4) | g["v"], g["q"]])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_COUNTS, _DC_SYMBOLS)
    out += _dht_segment(1, 0, _ACP_COUNTS, _ACP_SYMBOLS)

    all_comps = [(i, 0, 0) for i in range(1, ncomp + 1)]
    if successive:
        out += _sos_segment(all_comps, 0, 0, 0, 1)
        out += _encode_dc_scan(layout, 1, refine=False)
        out += _sos_segment(all_comps, 0, 0, 1, 0)
        out += _encode_dc_scan(layout, 0, refine=True)
        for i, g in enumerate(grids, start=1):
            out += _sos_segment([(i, 0, 0)], 1, 63, 0, 1)
            out += _encode_ac_first_scan(g, 1, 63, 1)
        for i, g in enumerate(grids, start=1):
            out += _sos_segment([(i, 0, 0)], 1, 63, 1, 0)
            out += _encode_ac_refine_scan(g, 1, 63, 0)
    else:
        out += _sos_segment(all_comps, 0, 0, 0, 0)
        out += _encode_dc_scan(layout, 0, refine=False)
        for i, g in enumerate(grids, start=1):
            out += _sos_segment([(i, 0, 0)], 1, 63, 0, 0)
            out += _encode_ac_first_scan(g, 1, 63, 0)
    out += b"\xff\xd9"
    return bytes(out)


# --- decoder --------------------------------------------------------------------

def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes → (H, W) uint8 gray or (H, W, 3) uint8 RGB.

    Baseline sequential (SOF0/1) and PROGRESSIVE (SOF2, round 4: spectral
    selection + successive approximation per T.81 Annex G — archival scan
    corpora are full of progressive files; the reference ingests them via
    cv2.imread, utils.py:477-497). Both modes share one path: every scan
    accumulates quantized coefficients into per-component block arrays, and
    dequantize+IDCT runs once at EOI. For baseline (a single full scan)
    this is identical to decoding inline."""
    if data[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG stream (no SOI)")
    pos = 2
    qtables = {}
    huff = {}
    frame = None
    restart_interval = 0
    coefs = None  # per-component (blocks_y, blocks_x, 64) zigzag-quantized
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2 allows 0xFF padding)
            pos += 1
            continue
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            # standalone markers (TEM/RSTn/SOI) carry no length segment
            pos += 2
            continue
        if pos + 4 > len(data):
            raise JpegError("truncated marker segment")
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            b = 0
            while b < len(body):
                prec = body[b] >> 4
                tid = body[b] & 0x0F
                if prec != 0:
                    raise JpegError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.float64)
                tbl[ZIGZAG] = np.frombuffer(body[b + 1:b + 65], dtype=np.uint8)
                qtables[tid] = tbl.reshape(8, 8)
                b += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            b = 0
            while b < len(body):
                tclass = body[b] >> 4
                tid = body[b] & 0x0F
                counts = list(body[b + 1:b + 17])
                n = sum(counts)
                symbols = list(body[b + 17:b + 17 + n])
                huff[(tclass, tid)] = _HuffDecoder(counts, symbols)
                b += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec = body[0]
            if prec != 8:
                raise JpegError(f"unsupported sample precision {prec}")
            h, w = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            comps = []
            for i in range(ncomp):
                cid, hv, qid = body[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "q": qid})
            frame = {
                "h": h, "w": w, "comps": comps,
                "progressive": marker == 0xC2,
            }
            coefs = _alloc_coefs(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(
                "only baseline (SOF0/1) and progressive (SOF2) DCT supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body)
        elif marker == 0xDA:  # SOS → entropy data follows
            if frame is None:
                raise JpegError("SOS before SOF")
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cid = body[1 + 2 * i]
                tables = body[2 + 2 * i]
                scan_comps.append((cid, tables >> 4, tables & 0x0F))
            ss, se, a = body[1 + 2 * ns:4 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            pos = _decode_scan_into(
                data, pos, frame, scan_comps, (ss, se, ah, al),
                huff, restart_interval, coefs,
            )
        # APPn/COM and anything else: skipped
    if frame is None or coefs is None:
        raise JpegError("no scan data found")
    return _reconstruct(frame, coefs, qtables)


def _alloc_coefs(frame):
    """Per-component zigzag-quantized coefficient store, sized to the
    component's own block grid (T.81 A.2.4: ceil over SAMPLED dims, padded
    to the MCU grid for interleaved scans)."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    out = []
    for c in comps:
        out.append(np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64))
    frame["mcus_x"] = mcus_x
    frame["mcus_y"] = mcus_y
    return out


def _comp_block_dims(frame, c):
    """Block grid a NON-interleaved scan walks: ceil over the component's
    sampled dimensions (T.81 A.2.2), independent of MCU padding."""
    comps = frame["comps"]
    hmax = max(x["h"] for x in comps)
    vmax = max(x["v"] for x in comps)
    sw = -(-frame["w"] * c["h"] // hmax)
    sh = -(-frame["h"] * c["v"] // vmax)
    return -(-sh // 8), -(-sw // 8)


def _decode_scan_into(data, pos, frame, scan_comps, band, huff,
                      restart_interval, coefs):
    """Decode one scan's entropy segment into the coefficient store; returns
    the stream position after the segment (at the next marker)."""
    ss, se, ah, al = band
    if not frame["progressive"] and (ss, se, ah, al) != (0, 63, 0, 0):
        raise JpegError("baseline scan must cover the full 0..63 band")
    if frame["progressive"] and ss == 0 and se != 0:
        raise JpegError(
            "malformed progressive scan: DC must be its own scan "
            "(Ss=0 requires Se=0, T.81 G.1.1.1.1)"
        )
    comps = frame["comps"]
    by_id = {c["id"]: (ci, c) for ci, c in enumerate(comps)}
    reader = _BitReader(data, pos)
    state = {"eobrun": 0}
    prev_dc = {cid: 0 for cid, _, _ in scan_comps}

    def maybe_restart(unit_count):
        if restart_interval and unit_count and unit_count % restart_interval == 0:
            reader.skip_rst()
            for cid in prev_dc:
                prev_dc[cid] = 0
            state["eobrun"] = 0

    if len(scan_comps) == 1:
        # non-interleaved (T.81 A.2.2): walk the single component's own
        # sampled block grid (for a single-component frame this coincides
        # with the MCU grid, so baseline grayscale takes this path too)
        cid, dc_tid, ac_tid = scan_comps[0]
        ci, c = by_id[cid]
        nby, nbx = _comp_block_dims(frame, c)
        unit = 0
        for by in range(nby):
            for bx in range(nbx):
                maybe_restart(unit)
                _decode_block(
                    reader, coefs[ci][by, bx], band, huff, dc_tid, ac_tid,
                    prev_dc, cid, state, frame["progressive"],
                )
                unit += 1
    else:
        # interleaved MCU walk (baseline always; progressive DC scans)
        if frame["progressive"] and ss != 0:
            raise JpegError("progressive AC scans must be single-component")
        unit = 0
        for my in range(frame["mcus_y"]):
            for mx in range(frame["mcus_x"]):
                maybe_restart(unit)
                for cid, dc_tid, ac_tid in scan_comps:
                    ci, c = by_id[cid]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            _decode_block(
                                reader,
                                coefs[ci][my * c["v"] + by, mx * c["h"] + bx],
                                band, huff, dc_tid, ac_tid, prev_dc, cid,
                                state, frame["progressive"],
                            )
                unit += 1

    # advance to the next marker after the entropy segment
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] not in (0x00,) and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            break
        p += 1
    return p


def _decode_block(reader, zz, band, huff, dc_tid, ac_tid, prev_dc, cid,
                  state, progressive):
    """One block's contribution for one scan, into zz ((64,) int64 zigzag)."""
    ss, se, ah, al = band
    if ss == 0:
        if ah == 0:  # DC first (or the baseline full scan's DC part)
            dc_dec = huff[(0, dc_tid)]
            size = dc_dec.decode(reader)
            diff = _extend(reader.receive(size), size)
            prev_dc[cid] += diff
            zz[0] = prev_dc[cid] << al
        else:  # DC refinement: one bit
            if reader.read_bit():
                zz[0] |= 1 << al
        if se == 0:
            return
        k = 1
    else:
        k = ss
    ac_dec = huff[(1, ac_tid)]
    if not progressive or ah == 0:
        # baseline AC / progressive AC first (T.81 G.2.2)
        if progressive and state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        while k <= se:
            sym = ac_dec.decode(reader)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                if progressive and r > 0:
                    state["eobrun"] = (1 << r) - 1 + reader.receive(r)
                break  # EOB (EOB0 in baseline)
            k += r
            if k > se:
                raise JpegError("AC index overflow")
            zz[k] = _extend(reader.receive(s), s) << al
            k += 1
        return
    # progressive AC refinement (T.81 G.2.3 / libjpeg jdphuff semantics)
    p1 = 1 << al
    m1 = -1 << al
    if state["eobrun"] == 0:
        while k <= se:
            sym = ac_dec.decode(reader)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    state["eobrun"] = (1 << r) + (reader.receive(r) if r else 0)
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise JpegError("refinement scan with magnitude > 1")
                newval = p1 if reader.read_bit() else m1
            # advance over r zero-history coefficients, applying correction
            # bits to every nonzero-history coefficient passed on the way
            while k <= se:
                if zz[k] != 0:
                    if reader.read_bit() and (abs(zz[k]) & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        if newval:
                            zz[k] = newval
                        k += 1
                        break
                    r -= 1
                k += 1
    if state["eobrun"] > 0:
        # inside an EOB run: only correction bits for nonzero coefficients
        while k <= se:
            if zz[k] != 0 and reader.read_bit() and (abs(zz[k]) & p1) == 0:
                zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        state["eobrun"] -= 1


def _reconstruct(frame, coefs, qtables):
    """Dequantize + IDCT every block, assemble planes, upsample, convert."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        qt = qtables[c["q"]]
        nby, nbx = coefs[ci].shape[:2]
        plane = np.zeros((nby * 8, nbx * 8), dtype=np.float64)
        # vectorized un-zigzag + dequantize over all blocks at once
        blocks = np.zeros((nby, nbx, 64), dtype=np.float64)
        blocks[:, :, ZIGZAG] = coefs[ci]
        blocks = blocks.reshape(nby, nbx, 8, 8) * qt
        # batched IDCT with the old inline loop's association order
        # ((C.T @ B) @ C) so decoded pixels stay bit-identical to round-3
        blocks = np.matmul(np.matmul(_C.T, blocks), _C) + 128.0
        plane = blocks.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        if c["h"] != hmax or c["v"] != vmax:
            plane = plane.repeat(vmax // c["v"], axis=0).repeat(
                hmax // c["h"], axis=1
            )
        full.append(plane[:h, :w])
    if len(full) == 1:
        return np.clip(full[0].round(), 0, 255).astype(np.uint8)
    if len(full) == 3:
        return _ycbcr_to_rgb(full[0], full[1], full[2])
    raise JpegError(f"unsupported component count {len(full)}")
