"""Dependency-free baseline JPEG codec (ITU-T T.81): SOF0/SOF1
sequential Huffman, grayscale and YCbCr with 4:4:4 / 4:2:2 / 4:2:0
subsampling, restart markers, byte stuffing, 8/16-bit DQT precision.

This is the REAL decode kernel behind
:func:`riko_spark.operators.multimodal.image_features_op` for JPEG
blobs (reference parity: riko's media modules hand image bytes to a
codec library; this engine decodes natively — see
/root/reference/riko/modules/* fetch/typecast surface).  Everything is
original code written from the public spec: the Huffman DECODE
procedure is T.81 F.2.2.3 (mincode/maxcode/valptr), coefficient
EXTEND is F.2.2.1, the zigzag order is GENERATED from the diagonal
rule rather than transcribed (a transcription typo cannot hide), and
the IDCT is the orthonormal separable matrix form evaluated in float64
over all blocks of a component at once (vectorized einsum — the only
per-coefficient Python loop is the entropy decoder itself, which is
inherently serial).

The encoder exists for fixture generation (like encode_png).  It writes Annex-K-style fixed Huffman tables INTO the
stream as DHT segments, and the decoder builds its tables from DHT —
never from shared constants — so encoder and decoder share no table
state and round-trip tests are not self-certifying.  Progressive
(SOF2+) and arithmetic coding raise a clear error.

Exactness contract used by the oracle fixtures: with all-ones quant
tables and BLOCK-CONSTANT planted pixels, the only nonzero coefficient
per block is the DC term 8*(v-128) — an exact integer — so
quantize→dequantize→IDCT reproduces the planted value bit-exactly and
a DuckDB oracle can recompute every decoded pixel from the planting
formula alone.
"""

from __future__ import annotations

import struct

import numpy as np

# ----------------------------------------------------------- tables

#: zigzag scan: ZIGZAG[k] = (row, col) of the k-th coefficient.
#: Generated from the diagonal rule (T.81 Figure 5): diagonal d = r+c,
#: even diagonals walk bottom-left -> top-right (row descending).
ZIGZAG: list[tuple[int, int]] = [
    (r, d - r)
    for d in range(15)
    for r in (range(min(d, 7), max(0, d - 7) - 1, -1) if d % 2 == 0
              else range(max(0, d - 7), min(d, 7) + 1))
]
assert len(ZIGZAG) == 64 and len(set(ZIGZAG)) == 64

# Annex K "typical" Huffman table SPECS (bits[16], huffval) — used by
# the ENCODER only; the decoder always reads tables from DHT segments.
_K_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
_K_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12)))
_K_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_K_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

_SUBSAMPLING = {  # name -> (Y_h, Y_v); chroma is always 1x1
    "444": (1, 1),
    "422": (2, 1),
    "420": (2, 2),
}


def _dct_matrix() -> np.ndarray:
    """8x8 orthonormal DCT-II matrix A with A[u, x] =
    0.5*c(u)*cos((2x+1)*u*pi/16): FDCT is ``A @ X @ A.T`` and IDCT is
    ``A.T @ C @ A`` (T.81 A.3.3 normalization)."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[0, :] = 0.5 / np.sqrt(2.0)
    return a


_A = _dct_matrix()


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients -> (n, 8, 8) float samples
    (still level-shifted), all blocks at once."""
    return np.einsum("ux,nuv,vy->nxy", _A, coeffs, _A, optimize=True)


def _fdct_blocks(samples: np.ndarray) -> np.ndarray:
    return np.einsum("ux,nxy,vy->nuv", _A, samples, _A, optimize=True)


# --------------------------------------------------- huffman helpers

def _decode_table(bits: list[int], huffval: list[int]):
    """T.81 C.2/F.2.2.3: canonical code tables -> (mincode, maxcode,
    valptr, huffval); maxcode[l] = -1 marks an empty length."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for ln in range(1, 17):
        n = bits[ln - 1]
        valptr[ln] = k
        mincode[ln] = code
        if n:
            code += n
            k += n
            maxcode[ln] = code - 1
        code <<= 1
    if k != len(huffval):
        raise ValueError("JPEG: DHT counts do not match value list")
    return mincode, maxcode, valptr, list(huffval)


def _encode_table(bits: list[int], huffval: list[int]) -> dict:
    """symbol -> (code, length) from the same canonical walk."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[huffval[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitReader:
    """Bit cursor over ONE de-stuffed entropy segment."""

    __slots__ = ("bits", "pos", "n")

    def __init__(self, seg: bytes):
        self.bits = np.unpackbits(np.frombuffer(seg, dtype=np.uint8))
        self.pos = 0
        self.n = len(self.bits)

    def take(self, k: int) -> int:
        p = self.pos
        if p + k > self.n:
            raise ValueError("JPEG: entropy data truncated")
        v = 0
        b = self.bits
        for i in range(k):
            v = (v << 1) | int(b[p + i])
        self.pos = p + k
        return v

    def huff(self, tbl) -> int:
        mincode, maxcode, valptr, huffval = tbl
        b = self.bits
        p = self.pos
        code = 0
        for ln in range(1, 17):
            if p >= self.n:
                raise ValueError("JPEG: entropy data truncated")
            code = (code << 1) | int(b[p])
            p += 1
            if maxcode[ln] >= 0 and code <= maxcode[ln]:
                self.pos = p
                return huffval[valptr[ln] + code - mincode[ln]]
        raise ValueError("JPEG: invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1: map an s-bit magnitude field to a signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# ----------------------------------------------------------- encode

def _prepare_components(pixels: np.ndarray, subsampling: str,
                        quant_luma, quant_chroma):
    """Shared encoder front half: color transform, subsample, FDCT,
    quantize.  Returns (gray, h, w, samp, quants, mcux, mcuy, comps)
    with comps as (by, bx, 8, 8) quantized coefficient grids."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h_img, w_img = px.shape[:2]
    if not gray and px.shape[2] != 3:
        raise ValueError("encode_jpeg takes (h,w) gray or (h,w,3) RGB")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {set(_SUBSAMPLING)}")
    ql = (np.ones((8, 8)) if quant_luma is None
          else np.asarray(quant_luma, dtype=np.float64).reshape(8, 8))
    qc = (np.ones((8, 8)) if quant_chroma is None
          else np.asarray(quant_chroma, dtype=np.float64).reshape(8, 8))

    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
        quants = [ql]
    else:
        r = px[:, :, 0].astype(np.float64)
        g = px[:, :, 1].astype(np.float64)
        b = px[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        yh, yv = _SUBSAMPLING[subsampling]
        planes = [np.floor(y + 0.5),
                  _downsample(np.floor(cb + 0.5), yh, yv),
                  _downsample(np.floor(cr + 0.5), yh, yv)]
        samp = [(yh, yv), (1, 1), (1, 1)]
        quants = [ql, qc, qc]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))

    # per-component quantized coefficient grids (by, bx, 8, 8)
    comps = []
    for plane, (ch, cv), q in zip(planes, samp, quants):
        bx, by = mcux * ch, mcuy * cv
        p = _pad_edge(plane, by * 8, bx * 8)
        blocks = (p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
                  .reshape(-1, 8, 8))
        coef = _fdct_blocks(blocks - 128.0)
        qd = np.rint(coef / q).astype(np.int64)
        if np.any(np.abs(qd) > 2047):
            raise ValueError("encode_jpeg: coefficient exceeds baseline "
                             "11-bit range; use larger quant values")
        comps.append(qd.reshape(by, bx, 8, 8))
    return gray, h_img, w_img, samp, (ql, qc), mcux, mcuy, comps


def encode_jpeg(pixels: np.ndarray, subsampling: str = "444",
                quant_luma: np.ndarray | None = None,
                quant_chroma: np.ndarray | None = None,
                restart_interval: int = 0) -> bytes:
    """Baseline JPEG from ``(h, w)`` gray or ``(h, w, 3)`` RGB uint8.
    Default quant tables are ALL ONES (lossless-in-coefficients, the
    fixture exactness contract); pass Annex-K-style tables for lossy
    output.  ``restart_interval`` (MCUs) inserts RSTn markers."""
    (gray, h_img, w_img, samp, (ql, qc), mcux, mcuy,
     comps) = _prepare_components(pixels, subsampling, quant_luma,
                                  quant_chroma)

    dc_tabs = [_encode_table(*_K_DC_LUMA), _encode_table(*_K_DC_CHROMA)]
    ac_tabs = [_encode_table(*_K_AC_LUMA), _encode_table(*_K_AC_CHROMA)]
    zz_r = np.array([r for r, _ in ZIGZAG])
    zz_c = np.array([c for _, c in ZIGZAG])

    def emit_block(w: _BitWriter, blk: np.ndarray, pred: int, ti: int) -> int:
        zz = blk[zz_r, zz_c]
        dc = int(zz[0])
        diff = dc - pred
        s = _category(diff)
        code, ln = dc_tabs[ti][s]
        w.put(code, ln)
        if s:
            w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                if k > last_nz:
                    code, ln = ac_tabs[ti][0x00]  # EOB
                    w.put(code, ln)
                    break
                run += 1
                continue
            while run >= 16:
                code, ln = ac_tabs[ti][0xF0]  # ZRL
                w.put(code, ln)
                run -= 16
            s = _category(v)
            code, ln = ac_tabs[ti][(run << 4) | s]
            w.put(code, ln)
            w.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        return dc

    segments = []
    w = _BitWriter()
    preds = [0] * len(comps)
    nmcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                segments.append(w.flush())
                w = _BitWriter()
                preds = [0] * len(comps)
            for ci, (grid, (ch, cv)) in enumerate(zip(comps, samp)):
                ti = 0 if ci == 0 else 1
                for dv in range(cv):
                    for dh in range(ch):
                        preds[ci] = emit_block(
                            w, grid[my * cv + dv, mx * ch + dh], preds[ci], ti)
            nmcu += 1
    segments.append(w.flush())

    # ---- marker stream
    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q = lambda q: bytes(int(q[r, c]) & 0xFF for r, c in ZIGZAG)
    out += seg(0xDB, b"\x00" + zz_q(ql))
    if not gray:
        out += seg(0xDB, b"\x01" + zz_q(qc))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h_img, w_img, ncomp)
    for ci in range(ncomp):
        ch, cv = samp[ci]
        sof += struct.pack(">BBB", ci + 1, (ch << 4) | cv,
                           0 if ci == 0 else 1)
    out += seg(0xC0, sof)
    dht = bytearray()
    specs = [(0x00, _K_DC_LUMA), (0x10, _K_AC_LUMA)]
    if not gray:
        specs += [(0x01, _K_DC_CHROMA), (0x11, _K_AC_CHROMA)]
    for tc_th, (bits_, vals) in specs:
        dht += bytes([tc_th]) + bytes(bits_) + bytes(vals)
    out += seg(0xC4, bytes(dht))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += struct.pack(">BB", ci + 1, (t << 4) | t)
    sos += b"\x00\x3f\x00"  # Ss/Se/AhAl for sequential DCT
    out += seg(0xDA, sos)
    for i, s in enumerate(segments):
        if i:
            out += bytes([0xFF, 0xD0 + ((i - 1) % 8)])
        out += s
    out += b"\xff\xd9"
    return bytes(out)


# Flat AC Huffman spec for the progressive ENCODER's DHT segments:
# every RRRRSSSS symbol (incl. the EOBn family the Annex-K tables lack)
# at length 8/9, leaving the all-ones code unused per T.81 C.2.
_FLAT_AC_SPEC = ([0, 0, 0, 0, 0, 0, 0, 254, 2, 0, 0, 0, 0, 0, 0, 0],
                 list(range(256)))


def _default_scan_script(gray: bool) -> list[tuple]:
    """A libjpeg-style spectral-selection + successive-approximation
    script: (component indices, Ss, Se, Ah, Al).  Exercises interleaved
    DC first/refine, banded AC first scans, and AC refinement."""
    if gray:
        return [([0], 0, 0, 0, 1), ([0], 1, 5, 0, 2),
                ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
                ([0], 1, 63, 1, 0), ([0], 0, 0, 1, 0)]
    return [([0, 1, 2], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2), ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),
            ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
            ([0, 1, 2], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0)]


def encode_jpeg_progressive(pixels: np.ndarray, subsampling: str = "444",
                            quant_luma: np.ndarray | None = None,
                            quant_chroma: np.ndarray | None = None,
                            scans: list[tuple] | None = None,
                            restart_interval: int = 0) -> bytes:
    """Progressive JPEG (SOF2) from the same inputs as
    :func:`encode_jpeg` — identical quantized coefficients, re-ordered
    into spectral-selection / successive-approximation scans (T.81
    G.1.2): DC first scans send diffs of ``DC >> Al`` (arithmetic
    shift), AC first scans send sign-truncated band coefficients with
    EOBn run accumulation, refinement scans send one correction bit per
    already-nonzero coefficient plus ±1<<Al insertions.  Exists for
    fixture generation; the DECODER rebuilds all tables from DHT and
    reconstructs coefficients by an independent bit-level procedure, so
    round-trips are cross-checked against the baseline path rather than
    self-certified."""
    (gray, h_img, w_img, samp, (ql, qc), mcux, mcuy,
     comps) = _prepare_components(pixels, subsampling, quant_luma,
                                  quant_chroma)
    script = scans if scans is not None else _default_scan_script(gray)
    ncomp = 1 if gray else 3
    zz_r = np.array([r for r, _ in ZIGZAG])
    zz_c = np.array([c for _, c in ZIGZAG])
    # zigzag-ordered coefficient vectors per component block grid
    zz = [g[:, :, zz_r, zz_c].astype(np.int64) for g in comps]
    dc_tabs = [_encode_table(*_K_DC_LUMA), _encode_table(*_K_DC_CHROMA)]
    ac_tab = _encode_table(*_FLAT_AC_SPEC)

    def nc_dims(ci):
        ch, cv = samp[ci]
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        cw = -(-w_img * ch // hmax)
        chh = -(-h_img * cv // vmax)
        return -(-cw // 8), -(-chh // 8)

    def encode_scan(cis, ss, se, ah, al):
        """One scan's entropy segments (list; RSTn separates them)."""
        segments = []
        w = _BitWriter()
        state = {"eobrun": 0, "pending": []}

        def flush_eobrun():
            n = state["eobrun"]
            if not n:
                return
            r = n.bit_length() - 1
            code, ln = ac_tab[r << 4]
            w.put(code, ln)
            if r:
                w.put(n - (1 << r), r)
            for bit in state["pending"]:
                w.put(bit, 1)
            state["eobrun"] = 0
            state["pending"] = []

        def dc_first_block(ci, blk, preds):
            ti = 0 if ci == 0 else 1
            v = int(blk[0]) >> al
            diff = v - preds[ci]
            preds[ci] = v
            s = _category(diff)
            code, ln = dc_tabs[ti][s]
            w.put(code, ln)
            if s:
                w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)

        def dc_refine_block(blk):
            w.put((int(blk[0]) >> al) & 1, 1)

        def ac_first_block(blk):
            band = blk[ss:se + 1]
            cur = np.sign(band) * (np.abs(band) >> al)
            nz = np.nonzero(cur)[0]
            if len(nz) == 0:
                state["eobrun"] += 1
                if state["eobrun"] == 0x7FFF:
                    flush_eobrun()
                return
            flush_eobrun()
            run = 0
            last = nz[-1]
            for k in range(last + 1):
                v = int(cur[k])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    code, ln = ac_tab[0xF0]
                    w.put(code, ln)
                    run -= 16
                s = _category(v)
                code, ln = ac_tab[(run << 4) | s]
                w.put(code, ln)
                w.put(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if last < se - ss:
                state["eobrun"] += 1
                if state["eobrun"] == 0x7FFF:
                    flush_eobrun()

        def ac_refine_block(blk):
            # absvalue at this precision: 0 = still zero, 1 = newly
            # significant (legal only with Ah == Al+1), >1 = history-
            # nonzero -> one correction bit
            band = blk[ss:se + 1]
            absv = np.abs(band) >> al
            newly = np.nonzero(absv == 1)[0]
            last = newly[-1] if len(newly) else -1
            run = 0
            bits = []  # correction bits since the last emitted symbol
            for k in range(last + 1):
                t = int(absv[k])
                if t == 0:
                    run += 1
                    continue
                # at any nonzero absvalue, pending ZRLs flush first so
                # buffered correction bits stay within the decoder's
                # 16-zero walk
                while run >= 16:
                    flush_eobrun()
                    code, ln = ac_tab[0xF0]
                    w.put(code, ln)
                    for bit in bits:
                        w.put(bit, 1)
                    bits = []
                    run -= 16
                if t > 1:
                    bits.append(t & 1)
                    continue
                flush_eobrun()
                code, ln = ac_tab[(run << 4) | 1]
                w.put(code, ln)
                w.put(1 if band[k] > 0 else 0, 1)
                for bit in bits:
                    w.put(bit, 1)
                bits = []
                run = 0
            # tail: roll leftover correction bits into the EOB run
            tail = [int(absv[k]) & 1
                    for k in range(last + 1, se - ss + 1) if absv[k] > 1]
            if run or bits or tail or last < se - ss:
                state["eobrun"] += 1
                state["pending"] += bits + tail
                if state["eobrun"] == 0x7FFF:
                    flush_eobrun()

        if ss == 0:
            # DC scan: interleaved over MCUs when multi-component
            preds = {ci: 0 for ci in cis}
            nmcu = 0
            interleaved = len(cis) > 1
            if interleaved:
                for my in range(mcuy):
                    for mx in range(mcux):
                        if (restart_interval and nmcu
                                and nmcu % restart_interval == 0):
                            segments.append(w.flush())
                            w = _BitWriter()
                            preds = {ci: 0 for ci in cis}
                        for ci in cis:
                            ch, cv = samp[ci]
                            for dv in range(cv):
                                for dh in range(ch):
                                    blk = zz[ci][my * cv + dv,
                                                 mx * ch + dh]
                                    if ah == 0:
                                        dc_first_block(ci, blk, preds)
                                    else:
                                        dc_refine_block(blk)
                        nmcu += 1
            else:
                ci = cis[0]
                bx, by = nc_dims(ci)
                for iy in range(by):
                    for ix in range(bx):
                        if (restart_interval and nmcu
                                and nmcu % restart_interval == 0):
                            segments.append(w.flush())
                            w = _BitWriter()
                            preds = {ci: 0 for ci in cis}
                        blk = zz[ci][iy, ix]
                        if ah == 0:
                            dc_first_block(ci, blk, preds)
                        else:
                            dc_refine_block(blk)
                        nmcu += 1
        else:
            ci = cis[0]
            bx, by = nc_dims(ci)
            nblk = 0
            for iy in range(by):
                for ix in range(bx):
                    if (restart_interval and nblk
                            and nblk % restart_interval == 0):
                        flush_eobrun()
                        segments.append(w.flush())
                        w = _BitWriter()
                    blk = zz[ci][iy, ix]
                    if ah == 0:
                        ac_first_block(blk)
                    else:
                        ac_refine_block(blk)
                    nblk += 1
            flush_eobrun()
        segments.append(w.flush())
        return segments

    # ---- marker stream
    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q = lambda q: bytes(int(q[r, c]) & 0xFF for r, c in ZIGZAG)
    out += seg(0xDB, b"\x00" + zz_q(ql))
    if not gray:
        out += seg(0xDB, b"\x01" + zz_q(qc))
    sof = struct.pack(">BHHB", 8, h_img, w_img, ncomp)
    for ci in range(ncomp):
        ch, cv = samp[ci]
        sof += struct.pack(">BBB", ci + 1, (ch << 4) | cv,
                           0 if ci == 0 else 1)
    out += seg(0xC2, sof)
    dht = bytearray()
    specs = [(0x00, _K_DC_LUMA), (0x10, _FLAT_AC_SPEC)]
    if not gray:
        specs += [(0x01, _K_DC_CHROMA)]
    for tc_th, (bits_, vals) in specs:
        dht += bytes([tc_th]) + bytes(bits_) + bytes(vals)
    out += seg(0xC4, bytes(dht))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for cis, ss, se, ah, al in script:
        for ci in cis:
            if ci >= ncomp:
                raise ValueError("scan script references missing component")
        if ss > 0 and len(cis) != 1:
            raise ValueError("AC scans take exactly one component")
        sos = bytes([len(cis)])
        for ci in cis:
            td = 0 if ci == 0 else 1
            sos += struct.pack(">BB", ci + 1,
                               (td << 4) | (0 if ss == 0 else 0))
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        segments = encode_scan(cis, ss, se, ah, al)
        for i, s in enumerate(segments):
            if i:
                out += bytes([0xFF, 0xD0 + ((i - 1) % 8)])
            out += s
    out += b"\xff\xd9"
    return bytes(out)


def _downsample(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    """Chroma subsample by box mean (pad to factor multiples first)."""
    if fh == 1 and fv == 1:
        return plane
    h, w = plane.shape
    p = _pad_edge(plane, -(-h // fv) * fv, -(-w // fh) * fh)
    ph, pw = p.shape
    m = p.reshape(ph // fv, fv, pw // fh, fh).mean(axis=(1, 3))
    return np.floor(m + 0.5)


def _pad_edge(plane: np.ndarray, th: int, tw: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, th - h), (0, tw - w)), mode="edge")


# ----------------------------------------------------------- decode

def decode_jpeg(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Baseline JPEG bytes -> ``(width, height, channels, uint8 array
    (h, w, c))`` with c=1 (grayscale) or 3 (RGB via the JFIF YCbCr
    transform, half-up rounding).  Progressive / arithmetic / 12-bit
    streams raise ``ValueError`` with a clear reason."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    try:
        return _decode_jpeg(data)
    except (struct.error, IndexError, KeyError, StopIteration) as e:
        raise ValueError(f"corrupt JPEG data: {e!r}") from e


def _decode_jpeg(data: bytes) -> tuple[int, int, int, np.ndarray]:
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple] = {}  # (class, id) -> tables
    frame = None
    progressive = False
    grids: dict[int, np.ndarray] = {}  # comp id -> (by, bx, 64) coeffs
    ri = 0
    pos = 2
    n = len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1  # fill byte
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        if pos + 4 > n:
            raise ValueError("JPEG: truncated marker segment")
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4:pos + 2 + ln]
        if marker == 0xDB:  # DQT: one or more tables per segment
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0x0F
                o += 1
                if pq:
                    vals = np.frombuffer(body[o:o + 128], dtype=">u2")
                    o += 128
                else:
                    vals = np.frombuffer(body[o:o + 64], dtype=np.uint8)
                    o += 64
                t = np.zeros((8, 8))
                for k, (r, c) in enumerate(ZIGZAG):
                    t[r, c] = vals[k]
                qt[tq] = t
        elif marker == 0xC4:  # DHT: one or more tables per segment
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits_ = list(body[o + 1:o + 17])
                nv = sum(bits_)
                vals = list(body[o + 17:o + 17 + nv])
                huff[(tc, th)] = _decode_table(bits_, vals)
                o += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            prec, h_img, w_img, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"JPEG: {prec}-bit precision unsupported")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = (w_img, h_img, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "JPEG: only sequential (SOF0/SOF1) and progressive "
                f"(SOF2) Huffman are supported, got SOF marker "
                f"0x{marker:02X} (lossless/hierarchical/arithmetic)")
        elif marker == 0xDD:
            (ri,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tdta = struct.unpack_from(">BB", body, 1 + 2 * i)
                scan.append((cs, tdta >> 4, tdta & 0x0F))
            scan_start = pos + 2 + ln
            if not progressive:
                return _decode_scan(data, scan_start, frame, scan, qt,
                                    huff, ri)
            ss = body[1 + 2 * ns]
            se = body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if not grids:
                grids = _make_grids(frame)
            pos = _decode_scan_progressive(
                data, scan_start, frame, scan, huff, ri, grids,
                ss, se, ahal >> 4, ahal & 0x0F)
            continue
        pos += 2 + ln
    if progressive and grids:
        w_img, h_img, comps = frame
        order = [c["id"] for c in comps]
        return _assemble_image(w_img, h_img, comps, order, grids, qt)
    raise ValueError("JPEG: no scan data (missing SOS)")


def _split_entropy(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Collect de-stuffed entropy segments from ``start``: 0xFF00 is a
    stuffed literal, RSTn separates segments, any other marker ends the
    scan.  Returns (segments, pos_of_terminating_marker)."""
    segs = []
    cur = bytearray()
    pos = start
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        nxt = data[pos + 1] if pos + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        elif nxt == 0xFF:
            pos += 1
        else:
            break
    segs.append(bytes(cur))
    return segs, pos


def _decode_scan(data, start, frame, scan, qt, huff, ri):
    w_img, h_img, comps = frame
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    segs, _ = _split_entropy(data, start)
    readers = iter(segs)
    rd = _BitReader(next(readers))

    # block grids per scan component
    interleaved = len(scan) > 1
    grids = {}
    layout = {}
    for cs, td, ta in scan:
        c = by_id[cs]
        if interleaved:
            bx = -(-w_img // (8 * hmax)) * c["h"]
            by = -(-h_img // (8 * vmax)) * c["v"]
        else:
            cw = -(-w_img * c["h"] // hmax)
            chh = -(-h_img * c["v"] // vmax)
            bx, by = -(-cw // 8), -(-chh // 8)
        grids[cs] = np.zeros((by, bx, 64), dtype=np.int32)
        layout[cs] = (bx, by, td, ta)

    def decode_block(out64, td, ta):
        s = rd.huff(huff[(0, td)])
        diff = _extend(rd.take(s), s) if s else 0
        k = 1
        vals = out64
        vals[0] = diff  # caller adds predictor
        while k < 64:
            rs = rd.huff(huff[(1, ta)])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("JPEG: AC run exceeds block")
            vals[k] = _extend(rd.take(s), s)
            k += 1

    if interleaved:
        mcux = -(-w_img // (8 * hmax))
        mcuy = -(-h_img // (8 * vmax))
        preds = {cs: 0 for cs, _, _ in scan}
        nmcu = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if ri and nmcu and nmcu % ri == 0:
                    rd = _BitReader(next(readers))
                    preds = {cs: 0 for cs, _, _ in scan}
                for cs, td, ta in scan:
                    c = by_id[cs]
                    g = grids[cs]
                    for dv in range(c["v"]):
                        for dh in range(c["h"]):
                            blk = g[my * c["v"] + dv, mx * c["h"] + dh]
                            decode_block(blk, td, ta)
                            blk[0] += preds[cs]
                            preds[cs] = blk[0]
                nmcu += 1
    else:
        cs, td, ta = scan[0]
        bx, by, _, _ = layout[cs]
        g = grids[cs]
        pred = 0
        nblk = 0
        for iy in range(by):
            for ix in range(bx):
                if ri and nblk and nblk % ri == 0:
                    rd = _BitReader(next(readers))
                    pred = 0
                blk = g[iy, ix]
                decode_block(blk, td, ta)
                blk[0] += pred
                pred = blk[0]
                nblk += 1

    order = [c["id"] for c in comps]
    return _assemble_image(w_img, h_img, comps, order, grids, qt)


def _assemble_image(w_img, h_img, comps, order, grids, qt):
    """Dequantize + IDCT + upsample + color transform the zigzag
    coefficient grids (comp id -> (by, bx, 64)) into the final
    (w, h, channels, uint8 pixels) tuple — shared by the sequential
    and progressive decode paths."""
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    zz_r = np.array([r for r, _ in ZIGZAG])
    zz_c = np.array([c for _, c in ZIGZAG])
    planes = {}
    for cs in order:
        c = by_id[cs]
        bx = grids[cs].shape[1]
        by = grids[cs].shape[0]
        coef = np.zeros((by * bx, 8, 8))
        coef[:, zz_r, zz_c] = grids[cs].reshape(-1, 64)
        coef *= qt[c["tq"]]
        sp = _idct_blocks(coef) + 128.0
        plane = (sp.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(by * 8, bx * 8))
        # upsample to full resolution (nearest, JFIF practice), crop
        fh, fv = hmax // c["h"], vmax // c["v"]
        if fh > 1:
            plane = np.repeat(plane, fh, axis=1)
        if fv > 1:
            plane = np.repeat(plane, fv, axis=0)
        planes[cs] = plane[:h_img, :w_img]

    if len(order) == 1:
        y = np.clip(np.floor(planes[order[0]] + 0.5), 0, 255)
        return w_img, h_img, 1, y.astype(np.uint8)[:, :, None]
    if len(order) != 3:
        raise ValueError(f"JPEG: {len(order)}-component images unsupported")
    y, cb, cr = (planes[order[0]], planes[order[1]] - 128.0,
                 planes[order[2]] - 128.0)
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return (w_img, h_img, 3,
            np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8))


def _make_grids(frame):
    """MCU-padded zigzag coefficient grids for every frame component —
    progressive scans accumulate into these across the whole stream."""
    w_img, h_img, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))
    return {c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64),
                              dtype=np.int32)
            for c in comps}


def _nc_dims(frame, c):
    """Non-interleaved (single-component scan) block coverage: T.81
    counts blocks over the component's TRUE sample dims, not the
    MCU-padded grid."""
    w_img, h_img, comps = frame
    hmax = max(x["h"] for x in comps)
    vmax = max(x["v"] for x in comps)
    cw = -(-w_img * c["h"] // hmax)
    chh = -(-h_img * c["v"] // vmax)
    return -(-cw // 8), -(-chh // 8)


def _decode_scan_progressive(data, start, frame, scan, huff, ri, grids,
                             ss, se, ah, al):
    """One progressive scan (T.81 G.2): DC first/refine (interleaved
    or single-component), AC first with EOBn run-lengths, AC refinement
    with positional correction bits.  Mutates ``grids`` in place and
    returns the stream position after the scan's entropy data."""
    w_img, h_img, comps = frame
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    segs, endpos = _split_entropy(data, start)
    readers = iter(segs)
    rd = _BitReader(next(readers))
    p1 = 1 << al

    if ss == 0:
        if se != 0:
            raise ValueError("JPEG: DC scan must have Se = 0")

        preds = {cs: 0 for cs, _, _ in scan}

        def dc_block(vals, cs, td):
            if ah == 0:
                s = rd.huff(huff[(0, td)])
                diff = _extend(rd.take(s), s) if s else 0
                preds[cs] += diff
                vals[0] = preds[cs] << al
            elif rd.take(1):
                vals[0] = int(vals[0]) | p1

        if len(scan) > 1:  # interleaved MCU order over padded grids
            mcux = -(-w_img // (8 * hmax))
            mcuy = -(-h_img // (8 * vmax))
            nmcu = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if ri and nmcu and nmcu % ri == 0:
                        rd = _BitReader(next(readers))
                        preds = {cs: 0 for cs, _, _ in scan}
                    for cs, td, _ta in scan:
                        c = by_id[cs]
                        g = grids[cs]
                        for dv in range(c["v"]):
                            for dh in range(c["h"]):
                                dc_block(g[my * c["v"] + dv,
                                           mx * c["h"] + dh], cs, td)
                    nmcu += 1
        else:
            cs, td, _ta = scan[0]
            bx, by = _nc_dims(frame, by_id[cs])
            g = grids[cs]
            nblk = 0
            for iy in range(by):
                for ix in range(bx):
                    if ri and nblk and nblk % ri == 0:
                        rd = _BitReader(next(readers))
                        preds = {cs: 0}
                    dc_block(g[iy, ix], cs, td)
                    nblk += 1
        return endpos

    # AC scan: exactly one component, non-interleaved block order
    if len(scan) != 1:
        raise ValueError("JPEG: progressive AC scans take one component")
    cs, _td, ta = scan[0]
    bx, by = _nc_dims(frame, by_id[cs])
    g = grids[cs]
    eobrun = 0

    def ac_first(vals):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = rd.huff(huff[(1, ta)])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += rd.take(r)
                return
            k += r
            if k > se:
                raise ValueError("JPEG: AC run exceeds spectral band")
            vals[k] = _extend(rd.take(s), s) << al
            k += 1

    def _correct(vals, k):
        """One correction bit for a history-nonzero coefficient."""
        v = int(vals[k])
        if rd.take(1) and (v & p1) == 0:
            vals[k] = v + (p1 if v > 0 else -p1)

    def ac_refine(vals):
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = rd.huff(huff[(1, ta)])
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += rd.take(r)
                        break
                    newval = 0  # ZRL: 16 zero-history positions
                elif s == 1:
                    newval = p1 if rd.take(1) else -p1
                else:
                    raise ValueError(
                        "JPEG: AC refinement amplitude must be 1")
                while k <= se:
                    if vals[k] != 0:
                        _correct(vals, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    vals[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if vals[k] != 0:
                    _correct(vals, k)
                k += 1
            eobrun -= 1

    nblk = 0
    for iy in range(by):
        for ix in range(bx):
            if ri and nblk and nblk % ri == 0:
                rd = _BitReader(next(readers))
                eobrun = 0
            if ah == 0:
                ac_first(g[iy, ix])
            else:
                ac_refine(g[iy, ix])
            nblk += 1
    return endpos
