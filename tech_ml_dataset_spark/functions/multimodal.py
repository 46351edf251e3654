"""Multimodal (image/audio/video) column support for training-data pipelines
(beyond-reference mandate; TMD has no multimodal surface).

Design for 100 TB: media lives as opaque ``binary`` columns with a typed
metadata struct alongside. Everything that can stay JVM-side does —
byte length, content hashes, magic-byte format sniffing are Catalyst
expressions evaluated in one scan. The Python-side stages (decode,
resize, frame sampling, feature extraction) run as Arrow-batched
``mapInPandas`` passes so each executor processes whole record batches,
never row-at-a-time.

Every stage that appends columns runs through one per-row map
(:func:`_append_columns`): the caller gives the output fields and a
function of one input cell, and the helper owns the output schema, the
``batches`` generator and the column-collision check. Only
:func:`frame_sample` (one row in, N rows out) and :func:`resize_image`
(replaces its own column) write their own ``mapInPandas`` shell.

Image codec (:func:`decode_image_bytes`, the one routing point): Pillow
wins when importable; otherwise the VENDORED pure-python codecs do REAL
decodes — :mod:`.png` (stdlib zlib, all five scanline filters),
:mod:`.jpeg` (baseline + progressive SOF2, 8- and 12-bit, any chroma
subsampling), :mod:`.gif` (LZW, first frame). Only payloads no codec
handles — arithmetic-coded JPEG (named-raise in jpeg.py), actual
video/mp3/ogg, malformed bytes — fall to the clearly-marked
deterministic fake decoder (pixels derived from the md5 of the bytes),
with ``decode_real`` False in-band. Everything around the codec —
schemas, batch shapes, partitioning, UDF signatures,
resize/sample/feature math (pure numpy) — is identical for real and fake
paths, so adding another real codec is one entry in ``_IMAGE_CODECS``.
Audio decodes through one PCM decoder (:func:`_decode_pcm`: 16-bit WAV,
FLAC) shared by :func:`audio_features` and :func:`audio_fingerprint`.
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..sources.warc import sniff_mime_bytes as _sniff
from . import gif, jpeg, png

# ---------------------------------------------------------------------------
# typed metadata schemas
# ---------------------------------------------------------------------------

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("n_bytes", T.LongType()),
    T.StructField("md5", T.StringType()),
    T.StructField("format", T.StringType()),
])

IMAGE_SCHEMA = T.StructType([
    T.StructField("height", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("pixels", T.ArrayType(T.FloatType())),  # row-major HWC
    # True only when a REAL codec produced the pixels (vendored PNG /
    # Pillow); False marks the deterministic fake. In-band so a 100 TB
    # pipeline can never silently train on fake features.
    T.StructField("decode_real", T.BooleanType()),
])

AUDIO_SCHEMA = T.StructType([
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("samples", T.ArrayType(T.FloatType())),
])

# magic bytes -> format label, checked JVM-side via substring/hex
_MAGIC = [
    ("89504E47", "png"),
    ("FFD8FF", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),   # wav/avi/webp container
    ("664C6143", "flac"),
    ("00000018", "mp4"),    # ftyp boxes start at offset 4; cheap heuristic
    ("1A45DFA3", "mkv"),
]


def sniff_format(bin_col: Column) -> Column:
    """Magic-byte format sniff as a pure Catalyst expression (no UDF)."""
    head = F.upper(F.hex(F.substring(bin_col, 1, 4)))
    expr = F.lit("unknown")
    for magic, name in reversed(_MAGIC):
        expr = F.when(head.startswith(magic[:8] if len(magic) >= 8 else magic),
                      F.lit(name)).otherwise(expr)
    return expr


def with_media_meta(df: DataFrame, bin_col: str, out_col: str = "media_meta"
                    ) -> DataFrame:
    """Attach the typed metadata struct — one JVM-side scan, no Python."""
    b = F.col(bin_col)
    return df.withColumn(out_col, F.struct(
        F.octet_length(b).cast("long").alias("n_bytes"),
        F.md5(b).alias("md5"),
        sniff_format(b).alias("format"),
    ))


def _u8(b: Column, pos) -> Column:
    """Unsigned byte at 1-based ``pos`` of a binary column (JVM-side)."""
    return F.conv(F.hex(F.substring(b, pos, 1)), 16, 10).cast("int")


def _u16be(b: Column, pos) -> Column:
    return F.conv(F.hex(F.substring(b, pos, 2)), 16, 10).cast("int")


def image_dims(b: Column) -> Column:
    """``struct(width, height)`` parsed from PNG / GIF / baseline-JPEG
    header bytes — pure Catalyst expressions, NO Python stage and no
    decode: at 100 TB a dimensions scan must not ship pixel payloads
    through Arrow, it reads a few header bytes per row JVM-side.

    - PNG: IHDR is at a FIXED offset (8-byte signature + length + type):
      width/height are big-endian u32 at bytes 17/21.
    - GIF: logical-screen width/height are LITTLE-endian u16 at bytes
      7/9.
    - JPEG: the SOF segment floats behind a variable prefix of APPn/DQT/
      DHT/COM segments, so the parse is a BOUNDED MARKER WALK expressed
      as ``F.aggregate`` over a 32-step dummy sequence: each step either
      holds a found SOF offset or advances offset by that segment's
      2 + u16 length. 32 segments bounds every sane header (libjpeg
      writes < 10); deeper files yield NULL, never a wrong answer.
      Height/width are u16 at SOF+5/SOF+7 (after marker, length,
      precision). All SOF0-SOF15 variants carry the same layout.

    Unknown formats (or truncated headers) yield NULL fields.
    """
    png_w = F.conv(F.hex(F.substring(b, 17, 4)), 16, 10).cast("int")
    png_h = F.conv(F.hex(F.substring(b, 21, 4)), 16, 10).cast("int")
    gif_w = _u8(b, 7) + _u8(b, 8) * 256
    gif_h = _u8(b, 9) + _u8(b, 10) * 256

    # JPEG bounded marker walk: state = struct(off, sof); off=3 is the
    # first marker after SOI. SOF family = C0-CF minus C4 (DHT), C8
    # (JPG extension), CC (DAC).
    is_sof = lambda m: (m >= 0xC0) & (m <= 0xCF) \
        & (m != 0xC4) & (m != 0xC8) & (m != 0xCC)
    init = F.struct(F.lit(3).alias("off"), F.lit(0).alias("sof"))

    def step(acc, _):
        m = _u8(b, acc["off"] + 1)
        seg_len = _u16be(b, acc["off"] + 2)
        found = is_sof(m)
        return F.when(acc["sof"] > 0, acc).otherwise(F.struct(
            F.when(found, acc["off"])
             .otherwise(acc["off"] + 2 + seg_len).alias("off"),
            F.when(found, acc["off"]).otherwise(F.lit(0)).alias("sof")))

    # _let-bind the walk result and the sniffed format: inlined, the
    # 32-step marker walk re-ran once per reference (sof appears in both
    # jpg dims) and the format sniff twice — HOF/when trees have no CSE
    # in interpreted evaluation
    from ..dtutil import _let

    def dims_of(sof, fmt):
        jpg_h = F.when(sof > 0, _u16be(b, sof + 5))
        jpg_w = F.when(sof > 0, _u16be(b, sof + 7))
        width = F.when(fmt == "png", png_w) \
                 .when(fmt == "gif", gif_w) \
                 .when(fmt == "jpeg", jpg_w)
        height = F.when(fmt == "png", png_h) \
                  .when(fmt == "gif", gif_h) \
                  .when(fmt == "jpeg", jpg_h)
        return F.struct(width.alias("width"), height.alias("height"))

    walk = F.aggregate(F.sequence(F.lit(1), F.lit(32)), init, step)
    return _let(walk["sof"], lambda sof:
                _let(sniff_format(b), lambda fmt: dims_of(sof, fmt)))


def with_image_dims(df: DataFrame, bin_col: str, out_col: str = "dims"
                    ) -> DataFrame:
    """Attach :func:`image_dims` — one JVM-side scan, no Python stage."""
    return df.withColumn(out_col, image_dims(F.col(bin_col)))


# ---------------------------------------------------------------------------
# the per-row map every column-appending stage runs through
# ---------------------------------------------------------------------------

def _append_columns(df: DataFrame, op: str, col: str,
                    fields: list[T.StructField], fn) -> DataFrame:
    """Append ``fields`` to ``df`` in one Arrow-batched ``mapInPandas``
    pass: ``fn`` maps each cell of ``col`` to its row's output, a tuple
    when there are several fields. An output name that already exists
    raises ``ValueError`` here, at call time: a duplicate column would
    otherwise fail only at the first action. Long fields are built as
    pandas' nullable ``Int64``, so a NULL never turns a 64-bit hash into
    float64."""
    for f in fields:
        if f.name in df.columns:
            raise ValueError(
                f"{op}: output column {f.name!r} already exists on the "
                f"input; pass another output name to disambiguate")
    names = [f.name for f in fields]
    longs = [isinstance(f.dataType, T.LongType) for f in fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [fn(v) for v in pdf[col]]
            cols = [rows] if len(names) == 1 else \
                [list(c) for c in zip(*rows)] or [[]] * len(names)
            for name, is_long, values in zip(names, longs, cols):
                pdf[name] = pd.array(values, dtype="Int64") if is_long \
                    else values
            yield pdf

    return df.mapInPandas(batches, T.StructType(df.schema.fields + fields))


def _pack64(bits: np.ndarray) -> int:
    """64 bits, MSB first, as a signed 64-bit long."""
    v = int.from_bytes(np.packbits(bits.ravel()).tobytes(), "big")
    return v - (1 << 64) if v >= (1 << 63) else v


# ---------------------------------------------------------------------------
# decode (real codecs; a marked deterministic fake for everything else)
# ---------------------------------------------------------------------------

def _fake_decode(data: bytes, height: int = 8, width: int = 8,
                 channels: int = 3) -> np.ndarray:
    """DETERMINISTIC FAKE decoder: expands the md5 of the payload into an
    (h, w, c) float32 array in [0, 1]. Stands in for a real codec so the
    downstream numpy stages exercise true batch shapes."""
    need = height * width * channels
    seed = data if data else b"\x00"
    out = bytearray()
    counter = 0
    while len(out) < need:
        out += hashlib.md5(seed + counter.to_bytes(4, "little")).digest()
        counter += 1
    arr = np.frombuffer(bytes(out[:need]), dtype=np.uint8)
    return (arr.astype(np.float32) / 255.0).reshape(height, width, channels)


_IMAGE_CODECS = {"image/png": png.decode, "image/jpeg": jpeg.decode,
                 "image/gif": gif.decode}


def decode_image_bytes(data: bytes):
    """The image codec hook: a float64 HWC RGB array in [0, 1], or None
    when no real codec handles the payload (callers then use the marked
    fake). Pillow wins when importable; otherwise the payload routes by
    its SNIFFED format, never a caller's label — the shared
    :func:`warc.sniff_mime_bytes` magic table is the one authority for
    both the Catalyst scan-side router and this decode-side dispatch, so
    PNG bytes in a column labeled 'jpeg' still take the PNG codec. A
    payload whose magic matches but whose body the codec rejects
    (malformed bytes, arithmetic-coded JPEG) returns None. Swap-in point
    for additional codecs."""
    try:  # pragma: no cover - Pillow is optional
        from PIL import Image
        return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"),
                          dtype=np.float64) / 255.0
    except Exception:
        pass
    decode = _IMAGE_CODECS.get(_sniff(data))
    if decode is None:
        return None
    try:
        arr = decode(data)
    except Exception:
        return None
    if arr.shape[2] == 1:   # match Pillow's convert("RGB") surface
        arr = np.repeat(arr, 3, axis=2)
    # 8-bit decodes are uint8 (/255); 12-bit JPEG is uint16 (/4095)
    maxv = 255.0 if arr.dtype == np.uint8 else 4095.0
    return arr[:, :, :3].astype(np.float64) / maxv


def _decode_or_fake(data, height: int = 8, width: int = 8):
    """``(pixels, real)``: the real decode of one binary cell, or the
    ``height x width`` fake with ``real`` False."""
    raw = bytes(data) if data is not None else b""
    arr = decode_image_bytes(raw)
    if arr is None:
        return _fake_decode(raw, height, width), False
    return arr, True


def _image_struct(arr: np.ndarray, real: bool) -> dict:
    """One :data:`IMAGE_SCHEMA` value. ``decode_real`` is always set: an
    omitted key would surface as NULL, not False, and a ``bool_and``
    gate would pass fakes."""
    return {"height": arr.shape[0], "width": arr.shape[1],
            "channels": arr.shape[2], "pixels": arr.ravel().tolist(),
            "decode_real": real}


def _pixels(img) -> np.ndarray:
    """The float32 HWC array of one :data:`IMAGE_SCHEMA` value."""
    return np.asarray(img["pixels"], dtype=np.float32).reshape(
        img["height"], img["width"], img["channels"])


def decode_image(df: DataFrame, bin_col: str, out_col: str = "image", *,
                 fake_hw: tuple[int, int] = (8, 8)) -> DataFrame:
    """Decode a binary column to an image struct via Arrow-batched
    ``mapInPandas``. REAL decode for png/jpeg/gif (Pillow when present,
    else the vendored codecs — see :func:`decode_image_bytes`); payloads
    no codec handles get the marked deterministic fake. Output schema =
    input + ``out_col``."""
    h, w = fake_hw
    return _append_columns(
        df, "decode_image", bin_col, [T.StructField(out_col, IMAGE_SCHEMA)],
        lambda data: _image_struct(*_decode_or_fake(data, h, w)))


# ---------------------------------------------------------------------------
# real numpy stages over decoded structs
# ---------------------------------------------------------------------------

def _resize(arr: np.ndarray, height: int, width: int,
            cache: dict) -> np.ndarray:
    """Nearest-neighbor resize by fancy indexing: output row ``i`` is
    source row ``i*hh//height`` (columns alike). ``cache`` keeps the
    index arrays per source shape."""
    hh, ww = arr.shape[0], arr.shape[1]
    if (hh, ww) not in cache:
        cache[(hh, ww)] = (np.arange(height) * hh // height,
                           np.arange(width) * ww // width)
    ri, ci = cache[(hh, ww)]
    return arr[ri][:, ci]


def _features(arr: np.ndarray, dtype=np.float32) -> list:
    """Per-channel mean/std + 8-bin intensity histogram of an HWC
    array."""
    mean = arr.mean(axis=(0, 1))
    std = arr.std(axis=(0, 1))
    hist, _ = np.histogram(arr.mean(axis=2), bins=8, range=(0.0, 1.0))
    hist = hist / max(1, arr.shape[0] * arr.shape[1])
    return np.concatenate([mean, std, hist]).astype(dtype).tolist()


def resize_image(df: DataFrame, image_col: str, height: int, width: int,
                 out_col: str | None = None) -> DataFrame:
    """Nearest-neighbor resize — pure numpy fancy-indexing, Arrow-batched.
    No codec involvement, so this stage is fully real."""
    out_col = out_col or image_col
    fields = [f for f in df.schema.fields if f.name != out_col]
    out_schema = T.StructType(fields + [T.StructField(out_col, IMAGE_SCHEMA)])
    names = [f.name for f in fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = {}
        for pdf in it:
            res = pdf[names].copy()
            res[out_col] = [
                _image_struct(_resize(_pixels(img), height, width, cache),
                              img["decode_real"])
                for img in pdf[image_col]]
            yield res

    return df.mapInPandas(batches, out_schema)


def image_features(df: DataFrame, image_col: str, out_col: str = "features"
                   ) -> DataFrame:
    """Per-channel mean/std + 8-bin intensity histogram (pure numpy)."""
    return _append_columns(
        df, "image_features", image_col,
        [T.StructField(out_col, T.ArrayType(T.FloatType()))],
        lambda img: _features(_pixels(img)))


def image_pipeline(df: DataFrame, bin_col: str, *, resize_hw: tuple[int, int],
                   fake_hw: tuple[int, int] = (8, 8),
                   out_col: str = "features",
                   feature_dtype: str = "float32",
                   flag_col: str = "decode_real") -> DataFrame:
    """Fused decode -> resize -> features in ONE ``mapInPandas`` pass.

    The composable stages above are correct but each one ships the full
    pixel arrays through Arrow between JVM and Python; at 100 TB that
    inter-stage traffic dominates. This fused form keeps intermediate
    pixels as in-process numpy arrays — only the input bytes and the final
    small feature vector cross the boundary. Prefer it whenever the
    intermediate images aren't themselves needed downstream (the same
    fusion argument as WholeStageCodegen, applied to the Python stages).

    ``flag_col`` names the in-band real-vs-fake decode flag; chained
    pipelines (an input that already carries ``decode_real`` from an
    earlier stage) must rename one side — appending a duplicate column
    name would poison every downstream reference, so that's an error.
    """
    h, w = fake_hw
    rh, rw = resize_hw
    ftype = T.DoubleType() if feature_dtype == "float64" else T.FloatType()
    np_ftype = np.float64 if feature_dtype == "float64" else np.float32
    cache = {}

    def row(data):
        arr, real = _decode_or_fake(data, h, w)
        return _features(_resize(arr, rh, rw, cache), np_ftype), real

    return _append_columns(
        df, "image_pipeline", bin_col,
        [T.StructField(out_col, T.ArrayType(ftype)),
         T.StructField(flag_col, T.BooleanType())], row)


def image_dhash(df: DataFrame, bin_col: str, out_col: str = "dhash",
                flag_col: str = "dhash_real", *,
                grid_h: int = 8, grid_w: int = 8) -> DataFrame:
    """Perceptual difference-hash (dHash) of an image binary column — the
    standard near-duplicate image fingerprint (Krawetz 2013): decode ->
    grayscale (channel mean) -> nearest-neighbor resize to
    ``grid_h x (grid_w+1)`` (the SAME ``arange(n)*src//n`` index law as
    :func:`resize_image`) -> bit ``r*grid_w+j`` set iff the left pixel is
    darker than its right neighbor -> packed MSB-first into a signed
    64-bit long (``grid_h*grid_w`` must be 64).

    One fused ``mapInPandas`` pass (decode never leaves the Python
    worker; only bytes in, one long out), then
    :func:`tech_ml_dataset_spark.functions.dedup.hamming_dedup_pairs`
    runs the banded near-dup join entirely JVM-side — the 100 TB image
    dedup shape: fingerprint once, shuffle 8-byte hashes, never pixels.

    ``flag_col`` carries the in-band real-vs-fake decode flag (same
    contract as :func:`image_pipeline`)."""
    if grid_h * grid_w != 64:
        raise ValueError("image_dhash packs exactly 64 bits: "
                         f"grid {grid_h}x{grid_w} != 64")
    cache = {}

    def row(data):
        arr, real = _decode_or_fake(data)
        return _dhash_of(arr, grid_h, grid_w, cache), real

    return _append_columns(
        df, "image_dhash", bin_col,
        [T.StructField(out_col, T.LongType()),
         T.StructField(flag_col, T.BooleanType())], row)


def _dhash_of(arr: np.ndarray, grid_h: int, grid_w: int,
              cache: dict) -> int:
    """The dHash core shared by :func:`image_dhash` and
    :func:`video_fingerprint`: gray ordering by EXACT integer channel
    sums (``rint(arr*255)`` recovers the codec bytes — a float32 channel
    MEAN can round two equal integer sums apart and flip a strict ``<``
    on tied neighbors, which md5-random fake frames hit ~0.2% of the
    time), nearest resize to ``grid_h x (grid_w+1)``, left<right
    gradient bits, MSB-first signed 64-bit pack."""
    gray = np.rint(arr * 255.0).astype(np.int64).sum(axis=2)
    g = _resize(gray, grid_h, grid_w + 1, cache)
    return _pack64(g[:, :-1] < g[:, 1:])


def video_fingerprint(df: DataFrame, bin_col: str, out_col: str = "vfp",
                      flag_col: str = "vfp_real", *, every_n: int = 10,
                      n_frames: int = 100, grid_h: int = 8,
                      grid_w: int = 8) -> DataFrame:
    """Video near-dup fingerprint: the dHash of every sampled frame
    (``range(0, n_frames, every_n)``, the :func:`frame_sample` law) as
    an ``array<long>`` — near-dup videos are pairs sharing >=m frame
    hashes via
    :func:`tech_ml_dataset_spark.functions.dedup.shared_fingerprint_pairs`.
    One fused pass: frames never leave the Python worker; a video row
    contributes ``ceil(n_frames/every_n)`` longs to the exchange, never
    pixels — the 100 TB shape for frame-level video dedup.

    Frame decode follows the :func:`frame_sample` contract: the REAL
    codec hook is absent in this container, so frame ``i`` is the
    documented deterministic fake ``_fake_decode(bytes || i_le32)``
    (md5-counter expansion — exactly replayable by a SQL oracle), and
    ``flag_col`` is False in-band. Swapping in a real decoder changes
    only the frame-decode call, same as :func:`decode_image`."""
    if grid_h * grid_w != 64:
        raise ValueError("video_fingerprint packs 64 bits per frame: "
                         f"grid {grid_h}x{grid_w} != 64")
    frame_idx = list(range(0, n_frames, every_n))
    cache = {}

    def row(data):
        raw = bytes(data) if data is not None else b""
        return [_dhash_of(_fake_decode(raw + i.to_bytes(4, "little")),
                          grid_h, grid_w, cache) for i in frame_idx], False

    return _append_columns(
        df, "video_fingerprint", bin_col,
        [T.StructField(out_col, T.ArrayType(T.LongType())),
         T.StructField(flag_col, T.BooleanType())], row)


def _decode_pcm(data):
    """``(sample_rate, channels, n_frames, bits, mono)`` of one audio
    payload, ``mono`` being the float64 channel mean of the raw integer
    samples; None when the bytes are neither FLAC nor 16-bit
    uncompressed WAV. FLAC is told apart by the shared magic table, never
    by a column label, and decodes at any width (the vendored lossless
    codec). A WAV of another width opens fine, but reading it as
    ``'<i2'`` would give garbage samples, so it is None."""
    try:
        data = bytes(data)
        if _sniff(data[:16]) == "audio/flac":
            from . import flac
            sr, nch, bits, arr = flac.decode(data)
            pcm = arr.astype(np.float64)
            return (sr, nch, arr.shape[0], bits,
                    pcm.mean(axis=1) if nch > 1 else pcm[:, 0])
        with wave.open(io.BytesIO(data), "rb") as w:
            if w.getsampwidth() != 2 or w.getcomptype() != "NONE":
                return None
            sr, nch, nf = w.getframerate(), w.getnchannels(), w.getnframes()
            raw = w.readframes(nf)
        pcm = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        return (sr, nch, nf, 16,
                pcm.reshape(-1, nch).mean(axis=1) if nch > 1 else pcm)
    except Exception:
        return None


def audio_fingerprint(df: DataFrame, bin_col: str, out_col: str = "afp",
                      *, n_frames: int = 65) -> DataFrame:
    """64-bit audio fingerprint by frame-energy gradients — the
    Haitsma-Kalker 2002 scheme simplified to the time domain so the law
    is exactly SQL-replayable (their band-energy differences need an
    FFT; frame ENERGY differences capture the same duplicate-detection
    signal for PCM dedup): decode PCM16 (mean mixdown), assign sample
    ``i`` of ``n`` to frame ``i*n_frames//n``, per-frame energy = sum of
    squared raw int16 values (exact in float64), bit ``f`` set iff
    ``E[f] < E[f+1]``, packed MSB-first into a signed 64-bit long.
    ``n_frames`` must be 65 (64 gradient bits). Undecodable bytes, and
    FLAC of any width but 16 bits (it would scale-shift the energy
    gradients against its WAV twin), yield NULL.

    One fused ``mapInPandas`` pass; downstream near-dup joins run on
    8-byte hashes via
    :func:`tech_ml_dataset_spark.functions.dedup.hamming_dedup_pairs` —
    the same fingerprint-once-shuffle-hashes shape as image dHash."""
    if n_frames - 1 != 64:
        raise ValueError("audio_fingerprint packs exactly 64 gradient "
                         f"bits: n_frames must be 65, got {n_frames}")

    def row(data):
        dec = _decode_pcm(data)
        if dec is None or dec[3] != 16 or not dec[4].size:
            return None
        pcm = dec[4]
        f = (np.arange(pcm.size, dtype=np.int64) * n_frames) // pcm.size
        en = np.bincount(f, weights=pcm * pcm, minlength=n_frames)
        return _pack64(en[:-1] < en[1:])

    return _append_columns(df, "audio_fingerprint", bin_col,
                           [T.StructField(out_col, T.LongType())], row)


def synthesize_png(df: DataFrame, id_col: str, *, height: int = 8,
                   width: int = 8, out_col: str = "png") -> DataFrame:
    """Deterministic PNG fixture column: pixel ``i`` of row ``id`` is
    ``(id*31 + i*7) % 256`` (row-major HWC, RGB), encoded with the vendored
    codec cycling through all five PNG filter types. The closed-form pixel
    law lets a SQL oracle recompute any downstream feature without a codec
    — proving the real encode->decode path end-to-end."""
    idx = np.arange(height * width * 3, dtype=np.int64)
    return _append_columns(
        df, "synthesize_png", id_col, [T.StructField(out_col, T.BinaryType())],
        lambda did: png.encode(
            ((int(did) * 31 + idx * 7) % 256).astype(np.uint8)
            .reshape(height, width, 3), filter_mode="cycle"))


def synthesize_jpeg(df: DataFrame, id_col: str, *, height: int = 16,
                    width: int = 16, out_col: str = "jpg",
                    subsampling: str = "444",
                    color: bool = False,
                    progressive: bool = False) -> DataFrame:
    """Deterministic baseline-JPEG fixture column: the image is a grid of
    CONSTANT 8x8 blocks, block ``b`` (row-major) of row ``id`` holding
    value ``(id*37 + b*11) % 256`` (grayscale), encoded with the vendored
    codec (functions/jpeg.py) at quant=1. Constant blocks have only a DC
    coefficient, so the decode reproduces each block EXACTLY despite JPEG
    being lossy in general — giving a closed-form pixel law a SQL oracle
    can replay, the same proof structure as :func:`synthesize_png`.

    ``color=True`` replicates the gray law into equal R=G=B channels;
    with ``subsampling="420"``/``"422"`` this extends the exactness law
    to CHROMA-SUBSAMPLED streams (the real-web majority case): equal
    channels put Cb=Cr at exactly 128 (constant planes box-average to
    themselves, DC-only, zero AC), and the decoder's replication
    upsample of a constant plane is the plane — so the decoded RGB still
    equals the gray formula per pixel, bit-exactly (pinned in
    tests/test_multimodal.py and by the jpeg420 driver oracle).

    ``progressive=True`` emits SOF2 streams via
    :func:`tech_ml_dataset_spark.functions.jpeg.encode_progressive`
    (spectral-selection + successive-approximation scan script); every
    coefficient refines to full precision, so the same exactness law
    holds bit-for-bit — the fixture source for the progressive-decode
    driver oracle."""
    if height % 8 or width % 8:
        raise ValueError("synthesize_jpeg: height/width must be multiples "
                         "of 8 (constant-block exactness law)")
    if subsampling != "444" and not color:
        raise ValueError("synthesize_jpeg: chroma subsampling needs "
                         "color=True (grayscale has no chroma)")
    bidx = np.arange((height // 8) * (width // 8), dtype=np.int64) \
        .reshape(height // 8, width // 8)
    enc = jpeg.encode_progressive if progressive else jpeg.encode

    def row(did):
        vals = (int(did) * 37 + bidx * 11) % 256
        arr = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
        if color:
            arr = np.repeat(arr[:, :, None], 3, axis=2)
        return enc(arr, quant=1, subsampling=subsampling)

    return _append_columns(df, "synthesize_jpeg", id_col,
                           [T.StructField(out_col, T.BinaryType())], row)


def synthesize_pdf(df: DataFrame, id_col: str, *, n_lines: int = 4,
                   out_col: str = "pdf",
                   compress: bool = True,
                   flavors: Sequence[str] | None = None) -> DataFrame:
    """Deterministic PDF fixture column (functions/pdf.py build_pdf —
    spec-valid single-page Helvetica): line ``j`` of row ``id`` reads
    ``doc <id> line <j> value <(id*31 + j*7) % 97>`` — a closed-form
    text law a SQL oracle replays without a PDF library, the jpeg/gif
    fixture pattern for the DOCUMENT modality.

    ``flavors`` cycles stream encodings by ``id`` — any
    :func:`~.pdf.build_pdf` compress mode ('flate'/'lzw'/'a85'/
    'a85+flate'/'none') plus ``'cmap'``, which emits a Type0
    /ToUnicode-CMap'd page (build_pdf_unicode) whose line law swaps in
    non-Latin text: ``док <id> γραμμή <j> 值 <(id*31 + j*7) % 97>`` —
    same closed form, exercising the full unicode decode chain."""
    from . import pdf as pdfmod

    def build(did) -> bytes:
        d = int(did)
        mode = flavors[d % len(flavors)] if flavors else compress
        if mode in ("cmap", "cmap_objstm"):
            lines = [f"док {d} γραμμή {j} 值 {(d * 31 + j * 7) % 97}"
                     for j in range(n_lines)]
            return pdfmod.build_pdf_unicode(
                lines, objstm=(mode == "cmap_objstm"))
        if mode == "diffenc":
            # legacy simple-font /Differences arm: accented law text so
            # the AGL-name resolution actually bites
            lines = [f"döc {d} ligne {j} café {(d * 31 + j * 7) % 97}°"
                     for j in range(n_lines)]
            return pdfmod.build_pdf_differences(lines)
        lines = [f"doc {d} line {j} value {(d * 31 + j * 7) % 97}"
                 for j in range(n_lines)]
        return pdfmod.build_pdf(lines, compress=mode)

    return _append_columns(df, "synthesize_pdf", id_col,
                           [T.StructField(out_col, T.BinaryType())], build)


def pdf_text(df: DataFrame, bin_col: str, out_col: str = "pdf_text",
             flag_col: str = "pdf_real") -> DataFrame:
    """Extract text from a PDF binary column (functions/pdf.py — raw
    object scan + FlateDecode + text-operator replay; no PDF library)
    in one fused ``mapInPandas`` pass. Unparseable/encrypted payloads
    yield NULL with ``flag_col`` False — the in-band real-vs-failed
    contract of the image/audio decoders. At 100 TB this is a map-only
    Python pass; use :func:`~tech_ml_dataset_spark.dtutil.ensure_parallelism`
    ahead of it when the scan yields fewer splits than cores."""
    from . import pdf as pdfmod

    def row(data):
        try:
            return pdfmod.extract_text(bytes(data)), True
        except Exception:
            return None, False

    return _append_columns(
        df, "pdf_text", bin_col,
        [T.StructField(out_col, T.StringType()),
         T.StructField(flag_col, T.BooleanType())], row)


def synthesize_gif(df: DataFrame, id_col: str, *, height: int = 8,
                   width: int = 8, out_col: str = "gifb") -> DataFrame:
    """Deterministic GIF fixture column: pixel ``(r, c)`` of row ``id``
    holds index ``(id*29 + (r*width + c)*13) % 256`` under the grayscale
    identity palette. GIF is LOSSLESS, so the decode equals the formula
    per-pixel (no block trick needed) and a SQL oracle replays any
    downstream feature — same proof structure as :func:`synthesize_png`,
    exercising the variable-width LZW path instead of PNG filters."""
    idx = np.arange(height * width, dtype=np.int64)
    return _append_columns(
        df, "synthesize_gif", id_col, [T.StructField(out_col, T.BinaryType())],
        lambda did: gif.encode(((int(did) * 29 + idx * 13) % 256)
                               .astype(np.uint8).reshape(height, width)))


def frame_sample(df: DataFrame, bin_col: str, *, every_n: int = 10,
                 n_frames: int = 100, out_col: str = "frames") -> DataFrame:
    """Video frame sampling: emit every ``every_n``-th frame as an image
    struct. Decode is the deterministic fake (frame i = fake decode of
    bytes||i); the sampling/batching plumbing is real. One input row fans
    out to ceil(n_frames / every_n) rows — the same explode-style shape a
    real video pipeline produces."""
    fields = df.schema.fields
    out_schema = T.StructType(fields + [
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField(out_col, IMAGE_SCHEMA)])
    names = [f.name for f in fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, row in pdf.iterrows():
                raw = bytes(row[bin_col]) if row[bin_col] is not None else b""
                for i in range(0, n_frames, every_n):
                    rec = {n: row[n] for n in names}
                    rec["frame_idx"] = i
                    # frames are ALWAYS the fake decode
                    rec[out_col] = _image_struct(
                        _fake_decode(raw + i.to_bytes(4, "little")), False)
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=names + ["frame_idx", out_col])

    return df.mapInPandas(batches, out_schema)


# --------------------------------------------------------------------------
# Audio: real WAV codec (pure stdlib RIFF) + fused feature extraction
# --------------------------------------------------------------------------

def synthesize_wav(df: DataFrame, id_col: str, *, n_samples: int = 2048,
                   sample_rate: int = 8000, out_col: str = "wav"
                   ) -> DataFrame:
    """Deterministic WAV fixture column: sample ``i`` of row ``id`` is the
    int16 ``((id*31 + i*17) % 2001) - 1000`` — an integer PCM law (no
    transcendentals), so a SQL oracle can recompute every downstream
    feature EXACTLY. Real RIFF/WAVE PCM16 bytes via the stdlib ``wave``
    module; one mapInPandas pass."""
    idx = np.arange(n_samples, dtype=np.int64)

    def row(did):
        pcm = (((int(did) * 31 + idx * 17) % 2001) - 1000).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sample_rate)
            w.writeframes(pcm.tobytes())
        return buf.getvalue()

    return _append_columns(df, "synthesize_wav", id_col,
                           [T.StructField(out_col, T.BinaryType())], row)


def synthesize_flac(df: DataFrame, id_col: str, *, n_samples: int = 2048,
                    sample_rate: int = 8000, out_col: str = "flc",
                    subframe: str = "fixed2") -> DataFrame:
    """Deterministic FLAC fixture column: the SAME integer PCM law as
    :func:`synthesize_wav` — sample ``i`` of row ``id`` is
    ``((id*31 + i*17) % 2001) - 1000`` — encoded losslessly through the
    vendored codec (:mod:`.flac`), so every oracle written for the WAV
    law replays unchanged against the FLAC arm; ``subframe='fixed2'``
    routes the fixture through the Rice-coded fixed-predictor path (the
    shape real encoders emit)."""
    from . import flac as flacmod

    idx = np.arange(n_samples, dtype=np.int64)
    return _append_columns(
        df, "synthesize_flac", id_col, [T.StructField(out_col, T.BinaryType())],
        lambda did: flacmod.encode(((int(did) * 31 + idx * 17) % 2001) - 1000,
                                   sample_rate=sample_rate, subframe=subframe))


def audio_features(df: DataFrame, bin_col: str, out_col: str = "audio"
                   ) -> DataFrame:
    """Decode audio bytes and extract features in ONE fused Python pass
    (decode never crosses the JVM boundary twice, same contract as
    :func:`image_pipeline`): sample_rate, n_samples, channels,
    duration_s, rms (int16-normalized), zero-crossing count. Real decode
    for PCM16 WAV (stdlib ``wave``) and FLAC (vendored; other widths
    rescale into the int16 domain so rms keeps the /32768 law); other
    bytes, WAVs of other widths included, yield NULL. Compressed formats
    (mp3/ogg) need an external codec — plug one into :func:`_decode_pcm`;
    the Spark-side plumbing is identical."""
    def row(data):
        dec = _decode_pcm(data)
        if dec is None:
            return None
        sr, nch, nf, bits, pcm = dec
        if bits != 16:
            pcm = pcm * (32768.0 / (1 << (bits - 1)))
        rms = float(np.sqrt(np.mean(pcm ** 2)) / 32768.0) \
            if pcm.size else 0.0
        zc = int(np.count_nonzero(
            np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
        return {"sample_rate": sr, "n_samples": nf, "channels": nch,
                "duration_s": nf / sr if sr else 0.0,
                "rms": rms, "zero_crossings": zc}

    return _append_columns(df, "audio_features", bin_col, [T.StructField(
        out_col, T.StructType([
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_crossings", T.IntegerType()),
        ]))], row)
