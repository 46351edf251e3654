"""Minimal pure-python JPEG (JFIF) codec — stdlib ``struct`` + numpy
only.

Implements the public huffman DCT processes of ITU-T T.81 / ISO 10918-1
("JPEG"): baseline sequential (SOF0/1) AND progressive (SOF2, spectral
selection + successive approximation with DC/AC refinement scans and
EOB runs — the Annex G procedures), 8-bit AND 12-bit precision (r8:
12-bit rides SOF1/SOF2 with 16-bit DQTs and decodes to uint16 0..4095
— the medical/scientific JPEG class), grayscale (1 component) and
YCbCr with any sampling factors 1..4 — 4:4:4, 4:2:2, and the
real-web-majority 4:2:0 — restart-marker tolerant decoding,
replication chroma upsample. Arithmetic coding (SOF9-11) raises a
clear error naming the unsupported feature (the payload then takes
the marked fake decode; when Pillow is importable it takes over inside
:func:`.multimodal.decode_image_bytes`, the one image codec hook,
without touching callers). :func:`encode` emits baseline
(with a ``subsampling=`` lever); :func:`encode_progressive` emits a
full libjpeg-style progressive scan script and :func:`encode_12bit`
a 12-bit SOF1 stream, primarily as self-contained test sources for
their decode paths.

Purpose: a crawl pipeline's image columns are mostly JPEG (r5 verdict
missing #1); this gives :mod:`.multimodal` a REAL decode path for them in
containers without Pillow, the same role png.py plays for PNG. Favors
clarity over speed — fixture-scale images only; the per-block loops are
numpy-vectorized where it matters (DCT via one matrix product per block
batch).

Oracle trick used by the driver fixtures: an image built from CONSTANT
8x8 blocks has only a DC coefficient; with an all-ones quantization table
the decoder's IDCT reproduces each block's constant EXACTLY (DC = 8*(v-128)
survives quantization, and IDCT of a DC-only block is the constant
DC/8 + 128 = v with zero rounding error), so a SQL oracle can recompute
any downstream feature from the closed-form block law without a codec —
the same proof structure as png.py's filter-cycling fixtures.

Reference parity anchor: none — the reference (tech.ml.dataset) has no
image surface at all; this is driver-mandate (multimodal pipeline)
surface. Format facts from the public spec (ITU-T T.81, Annex F baseline
procedure, Annex K.3 typical huffman tables) and JFIF 1.02.
"""

from __future__ import annotations

import struct

import numpy as np

SOI = b"\xff\xd8"

# zigzag scan position -> raster index within the 8x8 block (T.81 fig. 5)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# Annex K.3 typical huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _huff_codes(bits, vals):
    """T.81 Annex C code generation: canonical codes by ascending length.
    Returns {symbol: (code, length)}."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits, vals):
    """{(length, code): symbol} for the bit-at-a-time decoder."""
    enc = _huff_codes(bits, vals)
    return {(ln, code): sym for sym, (code, ln) in enc.items()}


# orthonormal 8x8 DCT-II matrix: F = C @ B @ C.T, B = C.T @ F @ C
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else np.sqrt(0.25)
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:        # byte stuffing (F.1.2.3)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # set when a non-RST marker terminates the scan

    def _fill(self) -> bool:
        d, p = self.data, self.pos
        if p >= len(d):
            return False
        b = d[p]
        if b == 0xFF:
            if p + 1 < len(d) and d[p + 1] == 0x00:   # stuffed FF
                self.pos = p + 2
            else:
                self.marker = d[p + 1] if p + 1 < len(d) else None
                return False
            b = 0xFF
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise ValueError("jpeg: truncated entropy-coded segment")
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self):
        """Consume a restart marker sitting at the current position;
        returns the marker byte (0xD0-0xD7) or None."""
        self.acc, self.nbits = 0, 0
        d, p = self.data, self.pos
        if p + 1 < len(d) and d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            self.pos = p + 2
            return d[p + 1]
        return None


def _extend(v: int, t: int) -> int:
    """T.81 F.12 EXTEND: map t received bits to a signed value."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _size(v: int) -> int:
    """Bit-size category of a signed coefficient (T.81 F.1.2.1.1)."""
    return int(abs(v)).bit_length()


def _rgb_to_ycbcr(arr: np.ndarray, center: float = 128.0) -> np.ndarray:
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = center - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = center + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(arr: np.ndarray, center: float = 128.0) -> np.ndarray:
    y, cb, cr = arr[..., 0], arr[..., 1] - center, arr[..., 2] - center
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(h, w) float plane, h/w multiples of 8 -> (n, 8, 8) raster order."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
                 .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _unblocks(blocks: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return (blocks.reshape(h8 // 8, w8 // 8, 8, 8)
                  .transpose(0, 2, 1, 3).reshape(h8, w8))


#: sampling-factor tables per mode: (H, V) per component Y, Cb, Cr
_SUBSAMPLING = {"444": [(1, 1), (1, 1), (1, 1)],
                "422": [(2, 1), (1, 1), (1, 1)],
                "420": [(2, 2), (1, 1), (1, 1)]}


def encode(arr: np.ndarray, *, quant: int | np.ndarray = 1,
           subsampling: str = "444") -> bytes:
    """uint8 (h, w), (h, w, 1) grayscale or (h, w, 3) RGB -> baseline JFIF
    bytes (huffman, Annex-K tables).

    ``quant``: a scalar fills both quantization tables with that value
    (1 = near-lossless: only DCT rounding remains, and constant 8x8
    blocks round-trip EXACTLY); or an (8, 8) array used for all
    components.

    ``subsampling`` (3-channel only): ``"444"`` (no chroma subsampling,
    the default — byte-identical to the pre-r7 encoder), ``"422"``
    (chroma halved horizontally) or ``"420"`` (halved both ways, the
    real-web majority case). Chroma planes are box-averaged over each
    sampling region; an image constant over every 2x2 (420) / 2x1 (422)
    region subsamples EXACTLY, which with ``quant=1`` and constant
    blocks keeps the closed-form fixture law lossless end-to-end.
    """
    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        raise ValueError("encode expects a uint8 array")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in (1, 3):
        raise ValueError("encode supports 1 (gray) or 3 (RGB) channels")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of "
                         f"{sorted(_SUBSAMPLING)}, got {subsampling!r}")
    q = np.full((8, 8), int(quant), dtype=np.int64) \
        if np.isscalar(quant) else np.asarray(quant, dtype=np.int64)
    if q.shape != (8, 8) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant must be a scalar or 8x8 table in 1..255")

    factors = [(1, 1)] if c == 1 else _SUBSAMPLING[subsampling]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = -(-w // (8 * hmax))          # MCUs across
    mcuy = -(-h // (8 * vmax))          # MCUs down

    planes = arr[:, :, 0].astype(np.float64)[None] if c == 1 else \
        _rgb_to_ycbcr(arr.astype(np.float64)).transpose(2, 0, 1)
    padded = []
    for (hi, vi), p in zip(factors, planes):
        sx, sy = hmax // hi, vmax // vi      # integer for the 3 modes
        if sx > 1 or sy > 1:
            # box-average downsample: pad full-res to scale multiples by
            # edge replication, then mean over each sy x sx region
            hp = np.pad(p, ((0, -h % sy), (0, -w % sx)), mode="edge")
            p = hp.reshape(hp.shape[0] // sy, sy,
                           hp.shape[1] // sx, sx).mean(axis=(1, 3))
        # pad the (possibly downsampled) plane to its MCU block coverage
        bh, bw = mcuy * vi * 8, mcux * hi * 8
        padded.append(np.pad(p, ((0, bh - p.shape[0]),
                                 (0, bw - p.shape[1])), mode="edge"))

    out = bytearray(SOI)
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"  # APP0
    zz = q.ravel()[ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz   # DQT 0
    if c == 3:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + zz
    # SOF0
    comps = [(1, 0)] if c == 1 else [(1, 0), (2, 1), (3, 1)]
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for (cid, tq), (hi, vi) in zip(comps, factors):
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, tq)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if c == 3:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tc_th, (bits, vals) in tables:
        body = bytes([tc_th] + bits + vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # SOS
    sos = bytes([len(comps)])
    for i, (cid, _) in enumerate(comps):
        td_ta = 0x00 if i == 0 else 0x11
        sos += bytes([cid, td_ta])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_enc = [_huff_codes(*_DC_LUMA)] + \
        ([_huff_codes(*_DC_CHROMA)] * 2 if c == 3 else [])
    ac_enc = [_huff_codes(*_AC_LUMA)] + \
        ([_huff_codes(*_AC_CHROMA)] * 2 if c == 3 else [])

    # DCT + quantize all blocks per component (vectorized), kept as a
    # (block_rows, block_cols, 8, 8) grid for MCU-ordered emission
    qcoefs = []
    for p in padded:
        b = _blocks(p) - 128.0
        f = _C @ b @ _C.T
        qc = np.round(f / q).astype(np.int64)
        qcoefs.append(qc.reshape(p.shape[0] // 8, p.shape[1] // 8, 8, 8))

    def emit_block(ci: int, coef88: np.ndarray) -> None:
        coef = coef88.ravel()[ZIGZAG]
        diff = int(coef[0]) - pred[ci]
        pred[ci] = int(coef[0])
        t = _size(diff)
        code, ln = dc_enc[ci][t]
        wr.write(code, ln)
        if t:
            wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last_nz = max(np.nonzero(coef[1:])[0], default=-1)
        for k in range(1, last_nz + 2):
            v = int(coef[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = ac_enc[ci][0xF0]   # ZRL
                wr.write(code, ln)
                run -= 16
            t = _size(v)
            code, ln = ac_enc[ci][(run << 4) | t]
            wr.write(code, ln)
            wr.write(v if v >= 0 else v + (1 << t) - 1, t)
            run = 0
        if last_nz + 1 < 63:
            code, ln = ac_enc[ci][0x00]       # EOB
            wr.write(code, ln)

    wr = _BitWriter()
    pred = [0] * len(padded)
    for my in range(mcuy):
        for mx in range(mcux):
            # MCU block order per T.81 A.2.3: components in scan order,
            # each contributing its Vi x Hi blocks top-to-bottom,
            # left-to-right
            for ci, (hi, vi) in enumerate(factors):
                for by in range(vi):
                    for bx in range(hi):
                        emit_block(ci, qcoefs[ci][my * vi + by,
                                                  mx * hi + bx])
    wr.flush()
    out += wr.out
    out += b"\xff\xd9"
    return bytes(out)


#: 12-bit Huffman tables (fixture-side): DC categories 0..15 as 5-bit
#: canonical codes, AC symbols (EOB, ZRL, every run<<4|size for size
#: 1..14) as 8-bit canonical codes. Poor compression, trivially valid —
#: prefix-free with no all-ones code of any length (16 of 32 slots /
#: 226 of 256 slots used), which is what the fixtures need.
_DC12 = ([0, 0, 0, 0, 16] + [0] * 11, list(range(16)))
_AC12 = ([0, 0, 0, 0, 0, 0, 0, 226] + [0] * 8,
         [0x00, 0xF0] + [(r << 4) | s for r in range(16)
                         for s in range(1, 15)])


def encode_12bit(arr: np.ndarray, *, quant: int | np.ndarray = 1) -> bytes:
    """12-bit extended-sequential (SOF1) encoder — the fixture source
    for the high-precision decode path (medical/scientific JPEG;
    libjpeg's -D12BIT build). uint16 (h, w), (h, w, 1) grayscale or
    (h, w, 3) RGB with values 0..4095 -> JFIF bytes: 16-bit DQT
    (Pq=1), purpose-built Huffman tables covering the 12-bit category
    range (DC 0..15, AC size 1..14), level shift 2048, 4:4:4 only.
    ``quant=1`` keeps constant blocks exact, same as :func:`encode`."""
    arr = np.asarray(arr)
    if arr.dtype != np.uint16:
        raise ValueError("encode_12bit expects a uint16 array (0..4095)")
    if arr.max(initial=0) > 4095:
        raise ValueError("encode_12bit: values exceed 12-bit range")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in (1, 3):
        raise ValueError("encode_12bit supports 1 or 3 channels")
    q = np.full((8, 8), int(quant), dtype=np.int64) \
        if np.isscalar(quant) else np.asarray(quant, dtype=np.int64)
    if q.shape != (8, 8) or (q < 1).any() or (q > 65535).any():
        raise ValueError("quant must be a scalar or 8x8 table in "
                         "1..65535")

    mcux, mcuy = -(-w // 8), -(-h // 8)
    planes = arr[:, :, 0].astype(np.float64)[None] if c == 1 else \
        _rgb_to_ycbcr(arr.astype(np.float64),
                      center=2048.0).transpose(2, 0, 1)
    padded = [np.pad(p, ((0, mcuy * 8 - h), (0, mcux * 8 - w)),
                     mode="edge") for p in planes]

    out = bytearray(SOI)
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    zz16 = q.ravel()[ZIGZAG].astype(">u2").tobytes()   # Pq=1: 16-bit
    out += b"\xff\xdb" + struct.pack(">H", 3 + 128) + b"\x10" + zz16
    if c == 3:
        out += b"\xff\xdb" + struct.pack(">H", 3 + 128) + b"\x11" + zz16
    comps = [(1, 0)] if c == 1 else [(1, 0), (2, 1), (3, 1)]
    sof = struct.pack(">BHHB", 12, h, w, len(comps))
    for cid, tq in comps:
        sof += struct.pack(">BBB", cid, 0x11, tq)      # 4:4:4
    out += b"\xff\xc1" + struct.pack(">H", 2 + len(sof)) + sof   # SOF1
    for tc_th, (bits, vals) in ((0x00, _DC12), (0x10, _AC12)):
        body = bytes([tc_th] + bits + vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([len(comps)])
    for cid, _ in comps:
        sos += bytes([cid, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_enc, ac_enc = _huff_codes(*_DC12), _huff_codes(*_AC12)
    qcoefs = []
    for p in padded:
        b = _blocks(p) - 2048.0
        f = _C @ b @ _C.T
        qcoefs.append(np.round(f / q).astype(np.int64)
                      .reshape(p.shape[0] // 8, p.shape[1] // 8, 8, 8))

    wr = _BitWriter()
    pred = [0] * len(padded)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(len(padded)):
                coef = qcoefs[ci][my, mx].ravel()[ZIGZAG]
                diff = int(coef[0]) - pred[ci]
                pred[ci] = int(coef[0])
                t = _size(diff)
                code, ln = dc_enc[t]
                wr.write(code, ln)
                if t:
                    wr.write(diff if diff >= 0
                             else diff + (1 << t) - 1, t)
                run = 0
                last_nz = max(np.nonzero(coef[1:])[0], default=-1)
                for k in range(1, last_nz + 2):
                    v = int(coef[k])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, ln = ac_enc[0xF0]
                        wr.write(code, ln)
                        run -= 16
                    t = _size(v)
                    code, ln = ac_enc[(run << 4) | t]
                    wr.write(code, ln)
                    wr.write(v if v >= 0 else v + (1 << t) - 1, t)
                    run = 0
                if last_nz + 1 < 63:
                    code, ln = ac_enc[0x00]
                    wr.write(code, ln)
    wr.flush()
    out += wr.out
    out += b"\xff\xd9"
    return bytes(out)


def decode(data: bytes) -> np.ndarray:
    """JFIF bytes -> uint8 (h, w, channels) array (1 or 3).

    Supports: SOF0/SOF1 baseline sequential AND SOF2 progressive huffman
    (spectral selection + successive approximation, DC and AC refinement
    scans, EOB runs — the T.81 G.2 procedures), 8-bit, any quant/huffman
    tables, 1 or 3 components with ANY sampling factors in 1..4 —
    covering 4:4:4, 4:2:2 and the real-web-majority 4:2:0 — and DRI/RSTn
    markers. All scans accumulate into per-component coefficient grids;
    dequantization + IDCT happen once at EOI, so baseline is simply the
    one-scan special case. Subsampled chroma planes are upsampled by
    pixel replication (nearest: ``src[y*Vi//Vmax, x*Hi//Hmax]``) — T.81
    leaves the upsampling filter to the decoder, and replication keeps
    the constant-region fixture law exact. 8-bit streams return uint8;
    12-bit (SOF1/SOF2) return uint16 in 0..4095. Raises ValueError
    naming the feature for arithmetic-coded (SOF9+) streams.
    """
    if data[:2] != SOI:
        raise ValueError("jpeg: missing SOI marker")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    h = w = 0
    prec = 8
    hmax = vmax = mcux = mcuy = 0
    coefs = None          # per component: (gh, gw, 64) int64, ZIGZAG order
    restart_interval = 0
    saw_scan = False

    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: desynchronized marker stream")
        marker = data[pos + 1]
        if marker == 0xD9:                     # EOI
            break
        if 0xD0 <= marker <= 0xD7:             # stray RSTn between scans
            pos += 2
            continue
        seg_len = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        body = data[pos + 4:pos + 2 + seg_len]
        pos_next = pos + 2 + seg_len
        if marker == 0xDB:                     # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(body[i:i + 64], dtype=np.uint8) \
                            .astype(np.int64)
                    i += 64
                else:
                    tbl = np.frombuffer(body[i:i + 128], dtype=">u2") \
                            .astype(np.int64)
                    i += 128
                qt[tq] = tbl.copy()            # zigzag order, like coefs
        elif marker == 0xC4:                   # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                vals = list(body[i + 17:i + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):     # SOF0/1 baseline, SOF2 prog
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec not in (8, 12):
                raise ValueError(f"jpeg: {prec}-bit precision unsupported")
            if prec == 12 and marker == 0xC0:
                raise ValueError("jpeg: 12-bit baseline (SOF0) is not a "
                                 "legal process — 12-bit rides SOF1/SOF2")
            if h * w > 80_000_000:
                # decompression-bomb guard (the Pillow MAX_IMAGE_PIXELS
                # idea): a corrupt SOF must not allocate GBs of
                # coefficient grid before the entropy data runs out
                raise ValueError(f"jpeg: {w}x{h} exceeds the 80M-pixel "
                                 "decompression-bomb guard")
            comps = []
            for k in range(nc):
                cid, hv, tq = body[6 + 3 * k:9 + 3 * k]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"jpeg: sampling factors ({hi},{vi}) out of the "
                        "spec's 1..4 range")
                comps.append({"id": cid, "tq": tq, "h": hi, "v": vi})
            if nc not in (1, 3):
                raise ValueError(f"jpeg: {nc}-component streams unsupported")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
            for c in comps:
                # the component's OWN block grid (non-interleaved scans
                # cover exactly this) inside the MCU-padded grid
                # (interleaved scans cover the padding blocks too)
                c["bw"] = -(--(-w * c["h"] // hmax) // 8)
                c["bh"] = -(--(-h * c["v"] // vmax) // 8)
            coefs = [np.zeros((mcuy * c["v"], mcux * c["h"], 64),
                              dtype=np.int64) for c in comps]
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(f"jpeg: SOF{marker - 0xC0} process "
                             "unsupported (arithmetic/lossless/"
                             "hierarchical)")
        elif marker == 0xDD:                   # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:                   # SOS
            if comps is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = body[0]
            scan = []
            for k in range(ns):
                cs, tdta = body[1 + 2 * k], body[2 + 2 * k]
                ci = next(i for i, c in enumerate(comps) if c["id"] == cs)
                scan.append((ci, tdta >> 4, tdta & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            rd = _BitReader(data, pos_next)
            _decode_scan(rd, scan, ss, se, ah, al, comps, coefs, huff,
                         mcux, mcuy, restart_interval)
            saw_scan = True
            pos = rd.pos
            continue
        pos = pos_next
    if not saw_scan:
        raise ValueError("jpeg: no scan found")

    # dequantize + IDCT every component at once (zigzag -> raster)
    imgs = []
    for ci, c in enumerate(comps):
        q = qt[c["tq"]]                        # zigzag order
        zz = coefs[ci] * q                     # (gh, gw, 64)
        gh, gw = zz.shape[0], zz.shape[1]
        raster = np.zeros((gh, gw, 64), dtype=np.float64)
        raster[:, :, ZIGZAG] = zz
        blocks = raster.reshape(gh * gw, 8, 8)
        px = _C.T @ blocks @ _C
        half, maxv = 1 << (prec - 1), (1 << prec) - 1
        plane = np.clip(np.round(
            _unblocks(px, gh * 8, gw * 8) + half), 0, maxv)
        if c["h"] == hmax and c["v"] == vmax:
            imgs.append(plane[:h, :w])
        else:
            # nearest (replication) upsample: dst[y,x] maps to the
            # subsampled source pixel by integer division — exact for
            # constant-region fixtures, spec-legal for everything
            ys = np.arange(h) * c["v"] // vmax
            xs = np.arange(w) * c["h"] // hmax
            imgs.append(plane[np.ix_(ys, xs)])
    dt = np.uint8 if prec == 8 else np.uint16
    if len(imgs) == 1:
        return imgs[0].astype(dt)[:, :, None]
    ycbcr = np.stack(imgs, axis=-1)
    rgb = np.clip(np.round(_ycbcr_to_rgb(ycbcr, center=float(half))),
                  0, maxv)
    return rgb.astype(dt)


def _read_symbol(rd: _BitReader, table) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | rd.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid huffman code")


def _decode_scan(rd, scan, ss, se, ah, al, comps, coefs, huff,
                 mcux, mcuy, restart_interval):
    """One entropy-coded scan into the coefficient grids.

    Baseline files carry a single (ss=0, se=63, ah=al=0) interleaved
    scan; progressive files split the spectrum/precision across many.
    The four progressive scan kinds are the T.81 G.2 procedures:
    DC first (diff << Al), DC refine (one bit per block), AC first
    (band decode with EOB runs), AC refine (correction bits)."""
    n = len(scan)
    dc_only = ss == 0 and se == 0
    baseline = ss == 0 and se == 63 and ah == 0 and al == 0
    if ss > 0 and n != 1:
        raise ValueError("jpeg: AC progressive scans must be "
                         "single-component (T.81 B.2.3)")
    interleaved = n > 1
    if interleaved:
        n_mcu = mcux * mcuy
    else:
        ci0 = scan[0][0]
        bh, bw = comps[ci0]["bh"], comps[ci0]["bw"]
        n_mcu = bh * bw

    pred = [0] * n
    eob_run = 0

    def blocks_of(m):
        """(ci, td, ta, by, bx) for every block of MCU index m."""
        if not interleaved:
            ci, td, ta = scan[0]
            yield ci, td, ta, m // bw, m % bw
            return
        my, mx = divmod(m, mcux)
        for ci, td, ta in scan:
            c = comps[ci]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    yield ci, td, ta, my * c["v"] + by, mx * c["h"] + bx

    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            if rd.align_to_marker() is not None:
                pred = [0] * n
                eob_run = 0
        for si, (ci, td, ta, by, bx) in enumerate(blocks_of(m)):
            cf = coefs[ci][by, bx]
            if baseline:
                pred[_scan_index(scan, ci)] = _decode_block_baseline(
                    rd, cf, huff[(0, td)], huff[(1, ta)],
                    pred[_scan_index(scan, ci)])
            elif dc_only and ah == 0:          # DC first
                t = _read_symbol(rd, huff[(0, td)])
                diff = _extend(rd.bits(t), t) if t else 0
                i = _scan_index(scan, ci)
                pred[i] += diff
                cf[0] = pred[i] << al
            elif dc_only:                      # DC refine: one bit
                if rd.bit():
                    cf[0] |= 1 << al
            elif ah == 0:                      # AC first
                eob_run = _decode_ac_first(rd, cf, huff[(1, ta)],
                                           ss, se, al, eob_run)
            else:                              # AC refine
                eob_run = _decode_ac_refine(rd, cf, huff[(1, ta)],
                                            ss, se, al, eob_run)


def _scan_index(scan, ci):
    for i, (c, _, _) in enumerate(scan):
        if c == ci:
            return i
    raise ValueError("jpeg: component not in scan")  # pragma: no cover


def _decode_block_baseline(rd, cf, dc_table, ac_table, pred):
    """Full DC+AC block (T.81 F.2.2) into zigzag coef array; returns the
    updated DC predictor."""
    t = _read_symbol(rd, dc_table)
    diff = _extend(rd.bits(t), t) if t else 0
    pred += diff
    cf[0] = pred
    k = 1
    while k < 64:
        rs = _read_symbol(rd, ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                        # ZRL
                k += 16
                continue
            break                              # EOB
        k += r
        if k > 63:
            raise ValueError("jpeg: AC index overflow")
        cf[k] = _extend(rd.bits(s), s)
        k += 1
    return pred


def _decode_ac_first(rd, cf, ac_table, ss, se, al, eob_run):
    """AC first scan for one block (T.81 G.2.2): band values at
    precision Al, EOB-run aware."""
    if eob_run > 0:
        return eob_run - 1
    k = ss
    while k <= se:
        rs = _read_symbol(rd, ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                        # ZRL
                k += 16
                continue
            # EOBn: run of (1<<r)+bits(r) blocks ending at EOB,
            # INCLUDING this one
            return (1 << r) - 1 + (rd.bits(r) if r else 0)
        k += r
        if k > se:
            raise ValueError("jpeg: AC band overflow")
        cf[k] = _extend(rd.bits(s), s) << al
        k += 1
    return 0


def _decode_ac_refine(rd, cf, ac_table, ss, se, al, eob_run):
    """AC refinement scan for one block (T.81 G.2.3 / the standard
    correction-bit walk): newly-significant coefficients arrive as
    ±1<<Al after a run of zero-HISTORY positions; every nonzero-history
    coefficient passed over consumes one correction bit."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eob_run == 0:
        while k <= se:
            rs = _read_symbol(rd, ac_table)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eob_run = (1 << r) + (rd.bits(r) if r else 0)
                    break
                # ZRL: skip 16 zero-history positions
            elif s == 1:
                newval = p1 if rd.bit() else m1
            else:
                raise ValueError("jpeg: invalid AC refinement symbol")
            while k <= se:
                if cf[k]:
                    if rd.bit() and (cf[k] & p1) == 0:
                        cf[k] += p1 if cf[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                cf[k] = newval
            k += 1
    if eob_run > 0:
        while k <= se:
            if cf[k]:
                if rd.bit() and (cf[k] & p1) == 0:
                    cf[k] += p1 if cf[k] >= 0 else m1
            k += 1
        eob_run -= 1
    return eob_run


# ---------------------------------------------------------------------------
# progressive encoder (fixture/source for testing the progressive decoder)
# ---------------------------------------------------------------------------

#: simple spec-legal tables covering EVERY symbol the progressive scans
#: can emit (the Annex-K baseline AC tables lack the EOBn symbols
#: 0x10..0xE0): all 12 DC categories at 4 bits (12 of 16 codes used),
#: and all 256 AC run/size bytes as 255 nine-bit + 1 ten-bit code (a
#: BITS entry is one byte, so 256-at-one-length cannot be declared;
#: Kraft 255/512 + 1/1024 < 1 and the all-ones code stays unused, as
#: T.81 C.2 requires). Compression is not the point; the decoder reads
#: whatever DHT the file carries.
_P_DC = ([0, 0, 0, 12] + [0] * 12, list(range(12)))
_P_AC = ([0] * 8 + [255, 1] + [0] * 6, list(range(256)))


def _point_ac(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al truncating toward ZERO
    (T.81 G.1.2.2 — DC uses an arithmetic shift instead)."""
    return v >> al if v >= 0 else -((-v) >> al)


class _ProgressiveACEncoder:
    """Per-scan AC state machine (T.81 G.1.2.2-3, the libjpeg-style
    bookkeeping): EOB-run accumulation for first scans; for refinement
    scans, TWO correction-bit buffers with different attachment points —
    bits buffered across EOB-run blocks (``pend_eob``) are emitted right
    after the EOBn symbol (the decoder consumes them while tail-refining
    the skipped blocks), while bits buffered inside the current block's
    zero run (``cur``) are emitted after the ZRL or newly-significant
    symbol that closes the run (the decoder consumes them during that
    symbol's position walk)."""

    def __init__(self, wr: _BitWriter, ac_enc):
        self.wr = wr
        self.ac = ac_enc
        self.eob_run = 0
        self.pend_eob: list[int] = []          # BE: bits riding the EOB run

    def _sym(self, rs: int) -> None:
        code, ln = self.ac[rs]
        self.wr.write(code, ln)

    def flush_eob(self) -> None:
        if self.eob_run > 0:
            r = self.eob_run.bit_length() - 1
            self._sym(r << 4)
            if r:
                self.wr.write(self.eob_run - (1 << r), r)
            self.eob_run = 0
        for b in self.pend_eob:
            self.wr.write(b, 1)
        self.pend_eob = []

    def first_block(self, cf, ss, se, al) -> None:
        run = 0
        for k in range(ss, se + 1):
            t = _point_ac(int(cf[k]), al)
            if t == 0:
                run += 1
                continue
            self.flush_eob()
            while run >= 16:
                self._sym(0xF0)                # ZRL
                run -= 16
            s = _size(t)
            self._sym((run << 4) | s)
            self.wr.write(t if t >= 0 else t + (1 << s) - 1, s)
            run = 0
        if run > 0:
            self.eob_run += 1
            if self.eob_run == 0x7FFF:
                self.flush_eob()

    def refine_block(self, cf, ss, se, al) -> None:
        absval = [abs(int(cf[k])) >> al for k in range(ss, se + 1)]
        eob = -1                               # index of last newly-nonzero
        for i, t in enumerate(absval):
            if t == 1:
                eob = i
        run = 0
        cur: list[int] = []                    # BR: this block's run bits
        for i, t in enumerate(absval):
            if t == 0:
                run += 1
                continue
            # ZRLs are emitted as soon as ANY nonzero interrupts a >15
            # run — unless the run can fold into the EOB run (i > eob)
            while run > 15 and i <= eob:
                self.flush_eob()
                self._sym(0xF0)
                run -= 16
                for b in cur:
                    self.wr.write(b, 1)
                cur = []
            if t > 1:                          # history coef: buffer bit
                cur.append(t & 1)
                continue
            # newly-significant (|new value| == 1)
            self.flush_eob()
            self._sym((run << 4) | 1)
            self.wr.write(1 if cf[ss + i] > 0 else 0, 1)
            for b in cur:
                self.wr.write(b, 1)
            cur = []
            run = 0
        if run > 0 or cur:
            self.eob_run += 1
            self.pend_eob.extend(cur)
            if self.eob_run == 0x7FFF:
                self.flush_eob()


def encode_progressive(arr: np.ndarray, *, quant: int | np.ndarray = 1,
                       subsampling: str = "444") -> bytes:
    """uint8 image -> PROGRESSIVE (SOF2) JFIF bytes, exercising every
    scan kind the decoder supports: an interleaved DC-first scan at
    Al=1, per-component AC-first scans with spectral bands and
    successive approximation, a DC refinement scan, and AC refinement
    scans down to Al=0 (the libjpeg-style scan script). Because every
    coefficient is refined to full precision, the decoded image is
    BIT-IDENTICAL to decoding the baseline encoding of the same input —
    the property the progressive pytest pins.
    """
    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        raise ValueError("encode expects a uint8 array")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in (1, 3):
        raise ValueError("encode supports 1 (gray) or 3 (RGB) channels")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of "
                         f"{sorted(_SUBSAMPLING)}, got {subsampling!r}")
    q = np.full((8, 8), int(quant), dtype=np.int64) \
        if np.isscalar(quant) else np.asarray(quant, dtype=np.int64)
    if q.shape != (8, 8) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant must be a scalar or 8x8 table in 1..255")

    factors = [(1, 1)] if c == 1 else _SUBSAMPLING[subsampling]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    planes = arr[:, :, 0].astype(np.float64)[None] if c == 1 else \
        _rgb_to_ycbcr(arr.astype(np.float64)).transpose(2, 0, 1)
    qz = []                                    # (gh, gw, 64) zigzag coefs
    grids = []
    for (hi, vi), p in zip(factors, planes):
        sx, sy = hmax // hi, vmax // vi
        if sx > 1 or sy > 1:
            hp = np.pad(p, ((0, -h % sy), (0, -w % sx)), mode="edge")
            p = hp.reshape(hp.shape[0] // sy, sy,
                           hp.shape[1] // sx, sx).mean(axis=(1, 3))
        bh8, bw8 = mcuy * vi * 8, mcux * hi * 8
        p = np.pad(p, ((0, bh8 - p.shape[0]), (0, bw8 - p.shape[1])),
                   mode="edge")
        b = _blocks(p) - 128.0
        f = _C @ b @ _C.T
        qc = np.round(f / q.reshape(8, 8)).astype(np.int64)
        zz = qc.reshape(-1, 64)[:, ZIGZAG]
        qz.append(zz.reshape(bh8 // 8, bw8 // 8, 64))
        # own (non-padded) block grid for the non-interleaved AC scans
        grids.append((-(--(-h * vi // vmax) // 8),
                      -(--(-w * hi // hmax) // 8)))

    out = bytearray(SOI)
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    zztbl = q.ravel()[ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zztbl
    if c == 3:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + zztbl
    comps = [(1, 0)] if c == 1 else [(1, 0), (2, 1), (3, 1)]
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for (cid, tq), (hi, vi) in zip(comps, factors):
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, tq)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof   # SOF2
    for tc_th, (bits, vals) in ((0x00, _P_DC), (0x10, _P_AC)):
        body = bytes([tc_th] + bits + vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    dc_enc = _huff_codes(*_P_DC)
    ac_enc = _huff_codes(*_P_AC)

    def sos_header(comp_idxs, ss, se, ah, al):
        sos = bytes([len(comp_idxs)])
        for i in comp_idxs:
            sos += bytes([comps[i][0], 0x00])  # both table ids 0
        sos += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    def dc_first_scan(al):
        out.extend(sos_header(list(range(len(qz))), 0, 0, 0, al))
        wr = _BitWriter()
        pred = [0] * len(qz)
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (hi, vi) in enumerate(factors):
                    for by in range(vi):
                        for bx in range(hi):
                            v = int(qz[ci][my * vi + by, mx * hi + bx, 0])
                            v >>= al           # DC: arithmetic shift
                            diff = v - pred[ci]
                            pred[ci] = v
                            t = _size(diff)
                            code, ln = dc_enc[t]
                            wr.write(code, ln)
                            if t:
                                wr.write(diff if diff >= 0
                                         else diff + (1 << t) - 1, t)
        wr.flush()
        out.extend(wr.out)

    def dc_refine_scan(al):
        out.extend(sos_header(list(range(len(qz))), 0, 0, al + 1, al))
        wr = _BitWriter()
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (hi, vi) in enumerate(factors):
                    for by in range(vi):
                        for bx in range(hi):
                            v = int(qz[ci][my * vi + by, mx * hi + bx, 0])
                            wr.write((v >> al) & 1, 1)
        wr.flush()
        out.extend(wr.out)

    def ac_scan(ci, ss, se, ah, al):
        out.extend(sos_header([ci], ss, se, ah, al))
        wr = _BitWriter()
        enc = _ProgressiveACEncoder(wr, ac_enc)
        bh, bw = grids[ci]
        for by in range(bh):
            for bx in range(bw):
                cf = qz[ci][by, bx]
                if ah == 0:
                    enc.first_block(cf, ss, se, al)
                else:
                    enc.refine_block(cf, ss, se, al)
        enc.flush_eob()
        wr.flush()
        out.extend(wr.out)

    # libjpeg-style scan script: spectral bands + successive approximation
    dc_first_scan(1)
    ac_scan(0, 1, 5, 0, 2)
    if c == 3:
        ac_scan(1, 1, 63, 0, 1)
        ac_scan(2, 1, 63, 0, 1)
    ac_scan(0, 6, 63, 0, 2)
    ac_scan(0, 1, 63, 2, 1)                    # AC refine 2 -> 1
    dc_refine_scan(0)
    if c == 3:
        ac_scan(1, 1, 63, 1, 0)
        ac_scan(2, 1, 63, 1, 0)
    ac_scan(0, 1, 63, 1, 0)                    # AC refine 1 -> 0
    out += b"\xff\xd9"
    return bytes(out)
