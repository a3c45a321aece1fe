"""Baseline + progressive JFIF (JPEG) codec in pure numpy + stdlib —
no PIL/libjpeg.

Decoder: baseline sequential DCT (SOF0/SOF1) and progressive DCT
(SOF2, ITU-T T.81 Annex G: spectral selection + successive
approximation — DC first/refine, AC first/refine with EOB runs), 8-bit,
generic per-component sampling factors (4:4:4, 4:2:0, 4:2:2,
grayscale), multiple DQT/DHT segments, tables redefined between scans,
restart intervals (DRI/RSTn), byte-stuffed entropy stream.
Arithmetic coding / 12-bit / hierarchical raise NotImplementedError.

Encoder: quality-scaled Annex-K-style quantization, 4:4:4 (no chroma
subsampling), standard-shape Huffman tables written into DHT segments.
The stream is fully self-describing (tables travel in the file), so the
decoder never assumes the encoder's constants — round-trip tests prove
both directions against each other, and libjpeg-produced baseline files
decode with the same code path.

The 2-D DCT runs as two 8×8 orthonormal matrix products
(``D @ B @ D.T``), which equals the JPEG FDCT definition exactly;
Huffman entropy coding is bit-serial Python — fine for test-sized
images, and the honest swap point for a real deployment is libjpeg via
PIL, not a faster Python loop.

Reference for scope: this replaces the `_fake_embedding` fallback for
``codec == "jpeg"`` in operators/multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np

# --- shared constants -------------------------------------------------------

def _zigzag_order() -> np.ndarray:
    """8×8 zigzag scan order, generated (not transcribed) to avoid
    typo-class bugs: walk anti-diagonals, alternating direction."""
    order = []
    for d in range(15):
        idxs = [(d - j, j) for j in range(d + 1) if 0 <= d - j < 8 and 0 <= j < 8]
        if d % 2 == 0:
            idxs = idxs[::-1]
        order.extend(r * 8 + c for r, c in idxs)
    return np.array(order, dtype=np.int32)

ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

_D = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _D[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(1 / 8) if _k == 0 else 0.5
        )

# Annex-K base quantization tables (luma, chroma)
QT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)
QT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)

# Encoder AC tables: canonical Annex-K ordering matters only for coding
# efficiency, not correctness, so build a VALID table with the standard
# code-length histogram shape replaced by a flat assignment: every
# (run,size) symbol plus ZRL and EOB gets a fixed-length code.  Validity
# (prefix-free, fits 16 bits) is guaranteed by construction.
AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]

def _flat_huff_spec(symbols: list[int]) -> tuple[list[int], list[int]]:
    """BITS/VALS for a flat code: all symbols at ceil(log2(n))+? length.
    A canonical Huffman table with every code the same length L needs
    len(symbols) <= 2^L - 1 (all-ones code of length L must stay free
    only at L=16; for L<16 full use is fine per the JPEG spec, but stay
    conservative and keep one spare)."""
    L = 1
    while (1 << L) - 1 < len(symbols):
        L += 1
    bits = [0] * 16
    bits[L - 1] = len(symbols)
    return bits, list(symbols)

AC_BITS, AC_VALS = _flat_huff_spec(AC_SYMBOLS)
DC_FLAT_BITS, DC_FLAT_VALS = _flat_huff_spec(list(range(12)))

def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical JPEG Huffman: symbol → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out

def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol for the decoder."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out

def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * scale + 50) / 100), 1, 255)

# --- encoder ----------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec

def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value → (category, extra bits)."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, v if v > 0 else v + (1 << s) - 1

def _encode_block(
    bw: _BitWriter,
    block: np.ndarray,
    qt: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    dc_pred: int,
) -> int:
    coef = _D @ (block - 128.0) @ _D.T
    q = np.round(coef / qt).astype(np.int32).ravel()[ZIGZAG]
    dc = int(q[0])
    s, extra = _magnitude(dc - dc_pred)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(extra, s)
    run = 0
    last_nz = int(np.max(np.nonzero(q)[0])) if np.any(q) else 0
    for i in range(1, 64):
        v = int(q[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, l = ac_codes[0xF0]  # ZRL
            bw.write(c, l)
            run -= 16
        s, extra = _magnitude(v)
        c, l = ac_codes[(run << 4) | s]
        bw.write(c, l)
        bw.write(extra, s)
        run = 0
    if last_nz < 63:
        c, l = ac_codes[0x00]  # EOB
        bw.write(c, l)
    return dc

def _dht_segment(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body

def _dqt_segment(tid: int, qt: np.ndarray) -> bytes:
    body = bytes([tid]) + bytes(qt.astype(np.uint8).ravel()[ZIGZAG])
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body

def encode_jpeg(img: np.ndarray, quality: int = 90) -> bytes:
    """RGB HxWx3 (or grayscale HxW) uint8 → baseline JFIF, 4:4:4."""
    gray = img.ndim == 2
    if gray:
        img = img[:, :, None]
    h, w = img.shape[:2]
    ncomp = 1 if gray else 3
    qts = [_quality_scale(QT_LUMA, quality)]
    if not gray:
        qts.append(_quality_scale(QT_CHROMA, quality))
    if gray:
        planes = [img[:, :, 0].astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = -0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2] + 128
        cr = 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2] + 128
        planes = [y, cb, cr]
    bh, bw_ = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    planes = [
        np.pad(p, ((0, bh - h), (0, bw_ - w)), mode="edge") for p in planes
    ]

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    out += _dqt_segment(0, qts[0])
    if not gray:
        out += _dqt_segment(1, qts[1])
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, DC_FLAT_BITS, DC_FLAT_VALS)
    out += _dht_segment(1, 0, AC_BITS, AC_VALS)
    if not gray:
        out += _dht_segment(0, 1, DC_FLAT_BITS, DC_FLAT_VALS)
        out += _dht_segment(1, 1, AC_BITS, AC_VALS)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_codes = _build_codes(DC_FLAT_BITS, DC_FLAT_VALS)
    ac_codes = _build_codes(AC_BITS, AC_VALS)
    bwr = _BitWriter()
    preds = [0] * ncomp
    for by in range(0, bh, 8):
        for bx in range(0, bw_, 8):
            for ci in range(ncomp):
                qt = qts[0 if ci == 0 else 1]
                preds[ci] = _encode_block(
                    bwr,
                    planes[ci][by : by + 8, bx : bx + 8],
                    qt,
                    dc_codes,
                    ac_codes,
                    preds[ci],
                )
    bwr.flush()
    out += bwr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)

# --- progressive encoder (T.81 Annex G, jcphuff-style control flow) ---------

# Progressive AC scans additionally need EOBn symbols (r<<4, r=0..14)
# for end-of-band run lengths; still fits a flat 8-bit code (176 < 255).
AC_PROG_SYMBOLS = [r << 4 for r in range(15)] + [0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
AC_PROG_BITS, AC_PROG_VALS = _flat_huff_spec(AC_PROG_SYMBOLS)

def _quantized_blocks(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """(bh, bw, 64) int32 zigzag-ordered quantized DCT coefficients."""
    h8, w8 = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(h8, 8, w8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,xyjk,kl->xyil", _D, blocks - 128.0, _D.T)
    q = np.round(coef / qt).astype(np.int32)
    return q.reshape(h8, w8, 64)[:, :, ZIGZAG]

class _ProgACWriter:
    """AC-scan entropy state: EOB-run + pending correction bits."""

    def __init__(self, bwr: _BitWriter, ac_codes: dict) -> None:
        self.bwr = bwr
        self.ac = ac_codes
        self.eobrun = 0
        self.be_bits: list[int] = []

    def sym(self, s: int) -> None:
        c, ln = self.ac[s]
        self.bwr.write(c, ln)

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.bwr.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.be_bits:
            self.bwr.write(b, 1)
        self.be_bits = []

def _encode_ac_first(
    w: _ProgACWriter, blk: np.ndarray, ss: int, se: int, al: int
) -> None:
    r = 0
    for k in range(ss, se + 1):
        t = int(blk[k])
        t2 = (t if t >= 0 else -t) >> al
        if t2 == 0:
            r += 1
            continue
        w.emit_eobrun()
        while r > 15:
            w.sym(0xF0)
            r -= 16
        nbits = t2.bit_length()
        w.sym((r << 4) | nbits)
        extra = t2 if t >= 0 else (~t2) & ((1 << nbits) - 1)
        w.bwr.write(extra, nbits)
        r = 0
    if r > 0:
        w.eobrun += 1
        if w.eobrun == 0x7FFF:
            w.emit_eobrun()

def _encode_ac_refine(
    w: _ProgACWriter, blk: np.ndarray, ss: int, se: int, al: int
) -> None:
    absv = [(int(v) if v >= 0 else -int(v)) >> al for v in blk[ss : se + 1]]
    eob = ss - 1
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    r = 0
    br_bits: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            w.emit_eobrun()
            w.sym(0xF0)
            r -= 16
            for b in br_bits:
                w.bwr.write(b, 1)
            br_bits = []
        if t > 1:
            br_bits.append(t & 1)
            continue
        w.emit_eobrun()
        w.sym((r << 4) | 1)
        r = 0
        w.bwr.write(1 if int(blk[k]) >= 0 else 0, 1)
        for b in br_bits:
            w.bwr.write(b, 1)
        br_bits = []
    if r > 0 or br_bits:
        w.eobrun += 1
        w.be_bits.extend(br_bits)
        if w.eobrun == 0x7FFF or len(w.be_bits) > 900:
            w.emit_eobrun()

def encode_jpeg_progressive(img: np.ndarray, quality: int = 90) -> bytes:
    """RGB HxWx3 (or grayscale HxW) uint8 → progressive JFIF (SOF2),
    4:4:4, libjpeg-simple-progression-style scan script exercising DC
    first/refine and AC first/refine with successive approximation."""
    gray = img.ndim == 2
    if gray:
        img = img[:, :, None]
    h, w = img.shape[:2]
    ncomp = 1 if gray else 3
    qts = [_quality_scale(QT_LUMA, quality)]
    if not gray:
        qts.append(_quality_scale(QT_CHROMA, quality))
    if gray:
        planes = [img[:, :, 0].astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = -0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2] + 128
        cr = 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2] + 128
        planes = [y, cb, cr]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    planes = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]
    coefs = [
        _quantized_blocks(planes[ci], qts[0 if ci == 0 else 1])
        for ci in range(ncomp)
    ]
    bh, bw_ = coefs[0].shape[:2]

    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    out += _dqt_segment(0, qts[0])
    if not gray:
        out += _dqt_segment(1, qts[1])
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, DC_FLAT_BITS, DC_FLAT_VALS)
    out += _dht_segment(1, 0, AC_PROG_BITS, AC_PROG_VALS)
    if not gray:
        out += _dht_segment(0, 1, DC_FLAT_BITS, DC_FLAT_VALS)
        out += _dht_segment(1, 1, AC_PROG_BITS, AC_PROG_VALS)

    dc_codes = _build_codes(DC_FLAT_BITS, DC_FLAT_VALS)
    ac_codes = _build_codes(AC_PROG_BITS, AC_PROG_VALS)

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            tid = 0 if cid == 1 else 1
            body += bytes([cid, (tid << 4) | tid])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body

    def dc_scan(ah: int, al: int) -> bytes:
        bwr = _BitWriter()
        preds = [0] * ncomp
        for by in range(bh):
            for bx in range(bw_):
                for ci in range(ncomp):
                    dc = int(coefs[ci][by, bx, 0])
                    if ah == 0:
                        v = dc >> al
                        s, extra = _magnitude(v - preds[ci])
                        preds[ci] = v
                        code, ln = dc_codes[s]
                        bwr.write(code, ln)
                        if s:
                            bwr.write(extra, s)
                    else:
                        bwr.write((dc >> al) & 1, 1)
        bwr.flush()
        return bytes(bwr.out)

    def ac_scan(ci: int, ss: int, se: int, ah: int, al: int) -> bytes:
        bwr = _BitWriter()
        wtr = _ProgACWriter(bwr, ac_codes)
        for by in range(bh):
            for bx in range(bw_):
                if ah == 0:
                    _encode_ac_first(wtr, coefs[ci][by, bx], ss, se, al)
                else:
                    _encode_ac_refine(wtr, coefs[ci][by, bx], ss, se, al)
        wtr.emit_eobrun()
        bwr.flush()
        return bytes(bwr.out)

    all_ids = list(range(1, ncomp + 1))
    if gray:
        script = [
            (sos_header(all_ids, 0, 0, 0, 1), dc_scan(0, 1)),
            (sos_header([1], 1, 63, 0, 1), ac_scan(0, 1, 63, 0, 1)),
            (sos_header(all_ids, 0, 0, 1, 0), dc_scan(1, 0)),
            (sos_header([1], 1, 63, 1, 0), ac_scan(0, 1, 63, 1, 0)),
        ]
    else:
        script = [
            (sos_header(all_ids, 0, 0, 0, 1), dc_scan(0, 1)),
            (sos_header([1], 1, 5, 0, 2), ac_scan(0, 1, 5, 0, 2)),
            (sos_header([2], 1, 63, 0, 1), ac_scan(1, 1, 63, 0, 1)),
            (sos_header([3], 1, 63, 0, 1), ac_scan(2, 1, 63, 0, 1)),
            (sos_header([1], 6, 63, 0, 2), ac_scan(0, 6, 63, 0, 2)),
            (sos_header([1], 1, 63, 2, 1), ac_scan(0, 1, 63, 2, 1)),
            (sos_header(all_ids, 0, 0, 1, 0), dc_scan(1, 0)),
            (sos_header([2], 1, 63, 1, 0), ac_scan(1, 1, 63, 1, 0)),
            (sos_header([3], 1, 63, 1, 0), ac_scan(2, 1, 63, 1, 0)),
            (sos_header([1], 1, 63, 1, 0), ac_scan(0, 1, 63, 1, 0)),
        ]
    for header, data in script:
        out += header + data
    out += b"\xff\xd9"
    return bytes(out)

# --- decoder ----------------------------------------------------------------

class _BitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        byte = self.data[self.pos]
        if byte == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise EOFError("hit marker in entropy stream")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align_past_restart(self) -> None:
        """Byte-align: drop buffered bits, skip forward to the next RSTn
        marker and consume it."""
        data, pos = self.data, self.pos
        while pos + 1 < len(data) and not (
            data[pos] == 0xFF and 0xD0 <= data[pos + 1] <= 0xD7
        ):
            pos += 1
        if pos + 1 >= len(data):
            raise ValueError("missing RSTn marker")
        self.acc = 0
        self.n = 0
        self.pos = pos + 2

class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker

def _decode_huff(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")

def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

def _skip_to_marker(payload: bytes, pos: int) -> int:
    """Advance past any residual entropy bytes / fill bytes to the next
    real marker (0xFF followed by neither 0x00 stuffing, RSTn, nor
    another 0xFF fill byte)."""
    n = len(payload)
    while pos < n - 1:
        if payload[pos] == 0xFF:
            nxt = payload[pos + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            if nxt == 0xFF:
                pos += 1
                continue
            return pos
        pos += 1
    raise ValueError("ran off end of JPEG looking for a marker")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline or progressive JFIF → HxWx3 uint8 RGB (gray replicated)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    scans_done = 0
    scan: list[dict] = []
    while True:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and scans_done:
                return _reconstruct_progressive(comps, qts, h, w)
            raise ValueError("no scan data before EOI")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            sp = 0
            while sp < len(seg):
                prec, tid = seg[sp] >> 4, seg[sp] & 0x0F
                sp += 1
                if prec == 0:
                    raw = np.frombuffer(seg, np.uint8, 64, sp).astype(np.float64)
                    sp += 64
                else:
                    raw = np.frombuffer(seg, ">u2", 64, sp).astype(np.float64)
                    sp += 128
                qts[tid] = raw[UNZIGZAG].reshape(8, 8)
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tclass, tid = seg[sp] >> 4, seg[sp] & 0x0F
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17 : sp + 17 + nv])
                (dc_tabs if tclass == 0 else ac_tabs)[tid] = _build_decode_table(
                    bits, vals
                )
                sp += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG")
            for ci in range(nc):
                cid, hv, qid = seg[6 + ci * 3 : 9 + ci * 3]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "q": qid}
                )
            if progressive:
                _init_progressive_geometry(comps, h, w)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported SOF marker 0xFF{marker:02X}; "
                "arithmetic/lossless/hierarchical JPEG need libjpeg"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = seg[0]
            scan = []
            for si in range(ns):
                cid, tabs = seg[1 + si * 2], seg[2 + si * 2]
                comp = next(c for c in comps if c["id"] == cid)
                comp["dc"] = dc_tabs.get(tabs >> 4)
                comp["ac"] = ac_tabs.get(tabs & 0x0F)
                scan.append(comp)
            if progressive:
                ss, se, ahal = seg[1 + ns * 2 : 4 + ns * 2]
                pos = _decode_prog_scan(
                    payload, pos, scan, ss, se, ahal >> 4, ahal & 0x0F,
                    restart_interval,
                )
                pos = _skip_to_marker(payload, pos)
                scans_done += 1
                continue
            break
        # else: APPn/COM — skip

    if len(scan) == 1:
        # Non-interleaved single-component scan: one 8×8 block per MCU
        # regardless of the component's declared sampling factors
        # (ITU-T T.81 §A.2.2) — a libjpeg grayscale file may declare
        # 2x2 factors but its scan data is still one block per MCU.
        scan[0]["h"] = scan[0]["v"] = 1
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in scan:
        c["plane"] = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        c["pred"] = 0

    br = _BitReader(payload, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.align_past_restart()
                for c in scan:
                    c["pred"] = 0
            for c in scan:
                for byi in range(c["v"]):
                    for bxi in range(c["h"]):
                        q = np.zeros(64, dtype=np.float64)
                        s = _decode_huff(br, c["dc"])
                        diff = _extend(br.bits(s), s) if s else 0
                        c["pred"] += diff
                        q[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(br, c["ac"])
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            sz = rs & 0x0F
                            if k > 63:
                                raise ValueError("AC index overflow")
                            q[k] = _extend(br.bits(sz), sz)
                            k += 1
                        coef = (q[UNZIGZAG].reshape(8, 8)) * qts[c["q"]]
                        block = _D.T @ coef @ _D + 128.0
                        y0 = (my * c["v"] + byi) * 8
                        x0 = (mx * c["h"] + bxi) * 8
                        c["plane"][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1

    return _planes_to_rgb(scan, h, w, hmax, vmax)


def _planes_to_rgb(
    comps: list[dict], h: int, w: int, hmax: int, vmax: int
) -> np.ndarray:
    """Upsample per-component planes (nearest neighbor) and color-convert."""
    full = []
    for c in comps:
        p = c["plane"]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g] * 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- progressive decoding (T.81 Annex G) ------------------------------------

def _init_progressive_geometry(comps: list[dict], h: int, w: int) -> None:
    """Allocate per-component zigzag-order coefficient planes.

    Interleaved (DC) scans address the MCU-padded grid
    (mcuy*v × mcux*h blocks); non-interleaved (AC / single-component)
    scans address only the component's true block grid
    (ceil(comp_h/8) × ceil(comp_w/8)) — both live in the same array.
    """
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        comp_w = (w * c["h"] + hmax - 1) // hmax
        comp_h = (h * c["v"] + vmax - 1) // vmax
        c["bw"] = (comp_w + 7) // 8
        c["bh"] = (comp_h + 7) // 8
        c["coef"] = np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
        c["pred"] = 0
    comps[0]["_geom"] = (hmax, vmax, mcux, mcuy)


def _refine_nonzero(br: _BitReader, blk: np.ndarray, k: int, se: int, p1: int, m1: int) -> None:
    """Correction bits for already-nonzero coefficients in blk[k..se]."""
    for i in range(k, se + 1):
        if blk[i]:
            if br.bit() and (blk[i] & p1) == 0:
                blk[i] += p1 if blk[i] >= 0 else m1


def _decode_prog_scan(
    payload: bytes,
    pos: int,
    scan: list[dict],
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
) -> int:
    """Decode one progressive scan into the components' coef planes;
    returns the stream position after the scan's entropy data."""
    if ss == 0 and se != 0:
        raise ValueError(
            "corrupt progressive scan: Ss=0 requires Se=0 (T.81 G.1.1.1.1)"
        )
    br = _BitReader(payload, pos)
    # geometry lives on the first SOF component; fetch from any comp dict
    hmax = vmax = mcux = mcuy = 0
    for c in scan:
        if "_geom" in c:
            hmax, vmax, mcux, mcuy = c["_geom"]
            break
    else:
        # single-component scan of a non-first component: geometry is on
        # the first component of the frame — reachable via coef shape
        c0 = scan[0]
        by, bx, _ = c0["coef"].shape
        mcuy, mcux = by // c0["v"], bx // c0["h"]
    state = {"eobrun": 0}

    def dc_block(c: dict, by: int, bx: int) -> None:
        blk = c["coef"][by, bx]
        if ah == 0:
            s = _decode_huff(br, c["dc"])
            diff = _extend(br.bits(s), s) if s else 0
            c["pred"] += diff
            blk[0] = c["pred"] << al
        else:
            if br.bit():
                blk[0] |= 1 << al

    def ac_block(c: dict, by: int, bx: int) -> None:
        blk = c["coef"][by, bx]
        if ah == 0:  # AC first scan (G.1.2.2)
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                return
            k = ss
            while k <= se:
                rs = _decode_huff(br, c["ac"])
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += br.bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC index overflow in progressive scan")
                blk[k] = _extend(br.bits(s), s) << al
                k += 1
        else:  # AC refinement scan (G.1.2.3, libjpeg-style control flow)
            p1, m1 = 1 << al, -(1 << al)
            k = ss
            if state["eobrun"] == 0:
                while k <= se:
                    rs = _decode_huff(br, c["ac"])
                    r, s = rs >> 4, rs & 0x0F
                    val = 0
                    if s == 0:
                        if r != 15:
                            state["eobrun"] = 1 << r
                            if r:
                                state["eobrun"] += br.bits(r)
                            break
                        # r == 15: skip 16 zero-history coefficients
                    else:
                        # s is always 1 in a refinement scan
                        val = p1 if br.bit() else m1
                    while k <= se:
                        if blk[k]:
                            if br.bit() and (blk[k] & p1) == 0:
                                blk[k] += p1 if blk[k] >= 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if s:
                        if k > se:
                            raise ValueError("refinement overran block end")
                        blk[k] = val
                    k += 1
            if state["eobrun"] > 0:
                _refine_nonzero(br, blk, k, se, p1, m1)
                state["eobrun"] -= 1

    def handle_restart(unit_count: int) -> None:
        if (
            restart_interval
            and unit_count
            and unit_count % restart_interval == 0
        ):
            br.align_past_restart()
            for c in scan:
                c["pred"] = 0
            state["eobrun"] = 0

    if ss == 0:  # DC scan
        if len(scan) > 1:  # interleaved MCU order
            n = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    handle_restart(n)
                    for c in scan:
                        for byi in range(c["v"]):
                            for bxi in range(c["h"]):
                                dc_block(c, my * c["v"] + byi, mx * c["h"] + bxi)
                    n += 1
        else:  # single-component: true block grid
            c = scan[0]
            n = 0
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    handle_restart(n)
                    dc_block(c, by, bx)
                    n += 1
    else:  # AC scan — always non-interleaved (T.81 G.1.1.1.1)
        if len(scan) != 1:
            raise ValueError("progressive AC scan with multiple components")
        c = scan[0]
        n = 0
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                handle_restart(n)
                ac_block(c, by, bx)
                n += 1
    return br.pos


def _reconstruct_progressive(
    comps: list[dict], qts: dict[int, np.ndarray], h: int, w: int
) -> np.ndarray:
    """Dequantize + batch-IDCT all accumulated coefficient planes."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        nat = c["coef"][:, :, UNZIGZAG].astype(np.float64)
        by, bx = nat.shape[:2]
        deq = nat.reshape(by, bx, 8, 8) * qts[c["q"]]
        blocks = np.einsum("ij,xyjk,kl->xyil", _D.T, deq, _D) + 128.0
        c["plane"] = blocks.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
    return _planes_to_rgb(comps, h, w, hmax, vmax)
