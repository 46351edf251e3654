"""Minimal pure-python PNG codec — stdlib ``zlib``/``struct`` + numpy only.

Implements the public PNG format (RFC 2083 / W3C PNG spec): 8-bit
grayscale / RGB / RGBA, non-interlaced, all five scanline filter types
(None, Sub, Up, Average, Paeth), single zlib stream across IDAT chunks.

Purpose: give :mod:`.multimodal` a REAL image codec in containers without
Pillow, so the decode stage of the image pipeline is no longer a stub.
The decoder favors clarity over speed — the filter-undo loop is
per-pixel Python within each row — which is fine for fixture-scale
images; when Pillow is importable it takes over inside
:func:`.multimodal.decode_image_bytes`, the one image codec hook,
without touching callers.

The encoder can cycle rows through all five filter types
(``filter_mode="cycle"``), making every encoded fixture exercise every
decoder filter path; ``filter_mode=0`` writes raw rows (trivially correct
— just zlib), which the tests use as an independent baseline to validate
the filter math.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"

_COLOR_TO_CHANNELS = {0: 1, 2: 3, 6: 4}
_CHANNELS_TO_COLOR = {1: 0, 3: 2, 4: 6}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _paeth(left: np.ndarray, up: np.ndarray, ul: np.ndarray) -> np.ndarray:
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    return np.where((pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, up, ul))


def encode(arr: np.ndarray, *, filter_mode: int | str = "cycle") -> bytes:
    """uint8 (h, w) or (h, w, c) array -> PNG bytes.

    ``filter_mode``: an int 0-4 pins every row to that filter;
    ``"cycle"`` uses filter ``row % 5`` so one image exercises all five.
    For 8-bit images a pixel's "corresponding byte" offset equals one
    pixel, so filters operate on the (w, c) pixel lattice directly.
    """
    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        raise ValueError("encode expects a uint8 array")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in _CHANNELS_TO_COLOR:
        raise ValueError(f"unsupported channel count {c}")
    raw = bytearray()
    prev = np.zeros((w, c), np.int32)
    for r in range(h):
        row = arr[r].astype(np.int32)
        ft = r % 5 if filter_mode == "cycle" else int(filter_mode)
        left = np.zeros_like(row)
        left[1:] = row[:-1]
        ul = np.zeros_like(row)
        ul[1:] = prev[:-1]
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = row - left
        elif ft == 2:
            filt = row - prev
        elif ft == 3:
            filt = row - (left + prev) // 2
        elif ft == 4:
            filt = row - _paeth(left, prev, ul)
        else:
            raise ValueError(f"bad filter {ft}")
        raw.append(ft)
        raw += (filt % 256).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _CHANNELS_TO_COLOR[c], 0, 0, 0)
    return (SIGNATURE + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def decode(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 (h, w, c) array. 8-bit gray/RGB/RGBA only."""
    if data[:8] != SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos, idat = 8, b""
    w = h = c = None
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # length + tag + body + crc
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body)
            if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("only 8-bit non-interlaced PNGs supported")
            if color not in _COLOR_TO_CHANNELS:
                raise ValueError(f"unsupported color type {color}")
            c = _COLOR_TO_CHANNELS[color]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(idat)
    stride = w * c + 1
    if len(raw) < h * stride:
        raise ValueError("truncated pixel data")
    out = np.zeros((h, w, c), np.int32)
    prev = np.zeros((w, c), np.int32)
    zero = np.zeros(c, np.int32)
    for r in range(h):
        line = raw[r * stride:(r + 1) * stride]
        ft = line[0]
        filt = np.frombuffer(line[1:], np.uint8).astype(np.int32).reshape(w, c)
        if ft == 0:
            row = filt
        elif ft == 2:
            row = (filt + prev) % 256
        elif ft in (1, 3, 4):
            row = np.zeros((w, c), np.int32)
            for x in range(w):  # left-dependency forces sequential undo
                left = row[x - 1] if x > 0 else zero
                up = prev[x]
                ul = prev[x - 1] if x > 0 else zero
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                row[x] = (filt[x] + pred) % 256
        else:
            raise ValueError(f"bad filter byte {ft}")
        out[r] = row
        prev = row
    return out.astype(np.uint8)
