"""Multimodal (image/audio/video) column support for training-data pipelines
(beyond-reference mandate; TMD has no multimodal surface).

Design for 100 TB: media lives as opaque ``binary`` columns with a typed
metadata struct alongside. Everything that can stay JVM-side does —
byte length, content hashes, magic-byte format sniffing are Catalyst
expressions evaluated in one scan. The Python-side stages (decode,
resize, frame sampling, feature extraction) run as Arrow-batched
``mapInPandas`` passes so each executor processes whole record batches,
never row-at-a-time.

Codec (the actual :func:`_try_real_decode` routing): Pillow wins when
importable (not in this container); otherwise the VENDORED pure-python
codecs do REAL decodes — :mod:`.png` (stdlib zlib, all five scanline
filters), :mod:`.jpeg` (baseline + progressive SOF2, any chroma
subsampling), :mod:`.gif` (LZW, first frame). Only payloads no codec
handles — arithmetic-coded/12-bit JPEG (named-raise in jpeg.py),
actual video/mp3/ogg, malformed bytes — fall to the clearly-marked
deterministic fake decoder (pixels derived from the md5 of the bytes).
Everything around the codec — schemas, batch shapes, partitioning, UDF
signatures, resize/sample/feature math (pure numpy) — is identical for
real and fake paths, so adding another real codec is a one-function
change (:func:`decode_image_bytes`).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

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
    # pipeline can never silently train on fake features (r4 verdict #6).
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
    # in interpreted evaluation (r11)
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
# decode (STUB: deterministic fake unless Pillow is importable)
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


from ..sources.warc import sniff_mime_bytes as _sniff


def _try_real_decode(data: bytes):
    """Route by the SNIFFED format, never a caller's label (r10
    verdict #5: the shared :func:`warc.sniff_mime_bytes` magic table
    is the single authority for both the Catalyst scan-side router
    and this decode-side dispatch — PNG bytes in a column someone
    labeled 'jpeg' still take the PNG codec)."""
    try:  # pragma: no cover - Pillow absent in this container
        import io
        from PIL import Image
        arr = np.asarray(Image.open(io.BytesIO(data)).convert("RGB"),
                         dtype=np.float64) / 255.0
        return arr
    except Exception:
        pass
    from ..sources.warc import sniff_mime_bytes
    mime = sniff_mime_bytes(data)
    if mime == "image/png":
        from . import png
        try:  # vendored pure-python codec — REAL decode
            arr = png.decode(data)
        except Exception:  # magic matched but payload malformed -> fake path
            return None
        if arr.shape[2] == 1:   # match Pillow's convert("RGB") surface
            arr = np.repeat(arr, 3, axis=2)
        elif arr.shape[2] == 4:
            arr = arr[:, :, :3]
        return arr.astype(np.float64) / 255.0
    if mime == "image/jpeg":
        from . import jpeg
        try:  # vendored JFIF codec (baseline + progressive + 12-bit,
            # any subsampling) — REAL decode
            arr = jpeg.decode(data)
        except Exception:  # arithmetic/malformed -> fake path
            return None
        if arr.shape[2] == 1:
            arr = np.repeat(arr, 3, axis=2)
        # 8-bit decodes are uint8 (/255); 12-bit are uint16 (/4095)
        maxv = 255.0 if arr.dtype == np.uint8 else 4095.0
        return arr.astype(np.float64) / maxv
    if mime == "image/gif":
        from . import gif
        try:  # vendored LZW codec — REAL decode (first frame)
            arr = gif.decode(data)
        except Exception:  # malformed payload -> fake path
            return None
        return arr.astype(np.float64) / 255.0
    return None


def decode_image_bytes(data: bytes):
    """Single-image codec hook: float64 HWC array in [0, 1], or None when
    no real codec handles the payload (callers then use the marked fake).
    Swap-in point for additional codecs (jpeg via Pillow etc.)."""
    return _try_real_decode(data)


def decode_image(df: DataFrame, bin_col: str, out_col: str = "image", *,
                 fake_hw: tuple[int, int] = (8, 8)) -> DataFrame:
    """Decode a binary column to an image struct via Arrow-batched
    ``mapInPandas``. REAL decode for png/jpeg/gif (Pillow when present,
    else the vendored codecs — see :func:`_try_real_decode`); payloads
    no codec handles get the marked deterministic fake. Output schema =
    input + ``out_col``."""
    h, w = fake_hw
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, IMAGE_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            imgs = []
            for data in pdf[bin_col]:
                raw = bytes(data) if data is not None else b""
                arr = _try_real_decode(raw)
                real = arr is not None
                if arr is None:
                    arr = _fake_decode(raw, h, w)
                imgs.append({"height": arr.shape[0], "width": arr.shape[1],
                             "channels": arr.shape[2],
                             "pixels": arr.ravel().tolist(),
                             "decode_real": real})
            pdf[out_col] = imgs
            yield pdf

    return df.mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# real numpy stages over decoded structs
# ---------------------------------------------------------------------------

def resize_image(df: DataFrame, image_col: str, height: int, width: int,
                 out_col: str | None = None) -> DataFrame:
    """Nearest-neighbor resize — pure numpy fancy-indexing, Arrow-batched.
    No codec involvement, so this stage is fully real."""
    out_col = out_col or image_col
    fields = [f for f in df.schema.fields if f.name != out_col]
    out_schema = T.StructType(fields + [T.StructField(out_col, IMAGE_SCHEMA)])
    names = [f.name for f in fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = []
            for img in pdf[image_col]:
                hh, ww, cc = img["height"], img["width"], img["channels"]
                arr = np.asarray(img["pixels"], dtype=np.float32).reshape(hh, ww, cc)
                ri = (np.arange(height) * hh // height)
                ci = (np.arange(width) * ww // width)
                out = arr[ri][:, ci]
                resized.append({"height": height, "width": width, "channels": cc,
                                "pixels": out.ravel().tolist(),
                                "decode_real": img["decode_real"]})
            res = pdf[names].copy()
            res[out_col] = resized
            yield res

    return df.mapInPandas(batches, out_schema)


def image_features(df: DataFrame, image_col: str, out_col: str = "features"
                   ) -> DataFrame:
    """Per-channel mean/std + 8-bin intensity histogram (pure numpy)."""
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.ArrayType(T.FloatType()))])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for img in pdf[image_col]:
                arr = np.asarray(img["pixels"], dtype=np.float32).reshape(
                    img["height"], img["width"], img["channels"])
                mean = arr.mean(axis=(0, 1))
                std = arr.std(axis=(0, 1))
                hist, _ = np.histogram(arr.mean(axis=2), bins=8, range=(0.0, 1.0))
                hist = hist / max(1, arr.shape[0] * arr.shape[1])
                feats.append(np.concatenate([mean, std, hist])
                             .astype(np.float32).tolist())
            pdf[out_col] = feats
            yield pdf

    return df.mapInPandas(batches, out_schema)


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
    for name in (out_col, flag_col):
        if name in df.columns:
            raise ValueError(
                f"image_pipeline: output column {name!r} already exists on "
                f"the input (chained pipeline?); pass out_col=/flag_col= "
                f"to disambiguate")
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.ArrayType(ftype)),
                               T.StructField(flag_col, T.BooleanType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ri_cache = {}
        for pdf in it:
            feats = []
            reals = []
            for data in pdf[bin_col]:
                raw = bytes(data) if data is not None else b""
                arr = _try_real_decode(raw)
                reals.append(arr is not None)
                if arr is None:
                    arr = _fake_decode(raw, h, w)
                hh, ww = arr.shape[0], arr.shape[1]
                if (hh, ww) not in ri_cache:
                    ri_cache[(hh, ww)] = (np.arange(rh) * hh // rh,
                                          np.arange(rw) * ww // rw)
                ri, ci = ri_cache[(hh, ww)]
                arr = arr[ri][:, ci]
                mean = arr.mean(axis=(0, 1))
                std = arr.std(axis=(0, 1))
                hist, _ = np.histogram(arr.mean(axis=2), bins=8, range=(0.0, 1.0))
                hist = hist / max(1, rh * rw)
                feats.append(np.concatenate([mean, std, hist])
                             .astype(np_ftype).tolist())
            pdf[out_col] = feats
            pdf[flag_col] = reals
            yield pdf

    return df.mapInPandas(batches, out_schema)


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
    for name in (out_col, flag_col):
        if name in df.columns:
            raise ValueError(
                f"image_dhash: output column {name!r} already exists on "
                f"the input; pass out_col=/flag_col= to disambiguate")
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.LongType()),
                               T.StructField(flag_col, T.BooleanType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache = {}
        for pdf in it:
            hashes, reals = [], []
            for data in pdf[bin_col]:
                raw = bytes(data) if data is not None else b""
                arr = _try_real_decode(raw)
                reals.append(arr is not None)
                if arr is None:
                    arr = _fake_decode(raw)
                hashes.append(_dhash_of(arr, grid_h, grid_w, idx_cache))
            pdf[out_col] = pd.Series(hashes, dtype="int64")
            pdf[flag_col] = reals
            yield pdf

    return df.mapInPandas(batches, out_schema)


def _dhash_of(arr: np.ndarray, grid_h: int, grid_w: int,
              idx_cache: dict) -> int:
    """The dHash core shared by :func:`image_dhash` and
    :func:`video_fingerprint`: gray ordering by EXACT integer channel
    sums (``rint(arr*255)`` recovers the codec bytes — a float32 channel
    MEAN can round two equal integer sums apart and flip a strict ``<``
    on tied neighbors, which md5-random fake frames hit ~0.2% of the
    time), nearest resize to ``grid_h x (grid_w+1)``, left<right
    gradient bits, MSB-first signed 64-bit pack."""
    gray = np.rint(arr * 255.0).astype(np.int64).sum(axis=2)
    hh, ww = gray.shape
    if (hh, ww) not in idx_cache:
        idx_cache[(hh, ww)] = (np.arange(grid_h) * hh // grid_h,
                               np.arange(grid_w + 1) * ww // (grid_w + 1))
    ri, ci = idx_cache[(hh, ww)]
    g = gray[ri][:, ci]
    bits = g[:, :-1] < g[:, 1:]
    v = int.from_bytes(np.packbits(bits.ravel()).tobytes(), "big")
    return v - (1 << 64) if v >= (1 << 63) else v


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
    for name in (out_col, flag_col):
        if name in df.columns:
            raise ValueError(
                f"video_fingerprint: output column {name!r} already exists "
                f"on the input; pass out_col=/flag_col= to disambiguate")
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col,
                                             T.ArrayType(T.LongType())),
                               T.StructField(flag_col, T.BooleanType())])
    frame_idx = list(range(0, n_frames, every_n))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache = {}
        for pdf in it:
            fps = []
            for data in pdf[bin_col]:
                raw = bytes(data) if data is not None else b""
                fps.append([_dhash_of(
                    _fake_decode(raw + i.to_bytes(4, "little")),
                    grid_h, grid_w, idx_cache) for i in frame_idx])
            pdf[out_col] = fps
            pdf[flag_col] = False
            yield pdf

    return df.mapInPandas(batches, out_schema)


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
    ``n_frames`` must be 65 (64 gradient bits). Undecodable bytes yield
    NULL (same law as :func:`audio_features`).

    One fused ``mapInPandas`` pass; downstream near-dup joins run on
    8-byte hashes via
    :func:`tech_ml_dataset_spark.functions.dedup.hamming_dedup_pairs` —
    the same fingerprint-once-shuffle-hashes shape as image dHash."""
    import io
    import wave

    if n_frames - 1 != 64:
        raise ValueError("audio_fingerprint packs exactly 64 gradient "
                         f"bits: n_frames must be 65, got {n_frames}")
    if out_col in df.columns:
        raise ValueError(
            f"audio_fingerprint: output column {out_col!r} already exists "
            f"on the input; pass out_col= to disambiguate")
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.LongType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fps = []
            for data in pdf[bin_col]:
                try:
                    # label-distrusting dispatch via the shared
                    # magic table (r10): FLAC bytes route to the
                    # FLAC codec whatever the column was called
                    if _sniff(bytes(data[:16])) == "audio/flac":
                        # vendored FLAC codec (r8) — REAL lossless
                        # decode; same 16-bit-only law as the WAV arm
                        # (other widths would scale-shift the energy
                        # gradients relative to their WAV twins)
                        from . import flac as flacmod
                        _, nch, fbps, arr = flacmod.decode(bytes(data))
                        if fbps != 16:
                            fps.append(None)
                            continue
                        pcm = arr.astype(np.float64).mean(axis=1) \
                            if nch > 1 else arr[:, 0].astype(np.float64)
                    else:
                        with wave.open(io.BytesIO(bytes(data)), "rb") as w:
                            # 16-bit uncompressed PCM only: 8/24/32-bit
                            # WAVs open fine but '<i2' would silently
                            # mis-parse them into garbage fingerprints
                            # (false dedup matches). NULL instead, the
                            # audio_features law.
                            if (w.getsampwidth() != 2
                                    or w.getcomptype() != "NONE"):
                                fps.append(None)
                                continue
                            nch, nf = w.getnchannels(), w.getnframes()
                            raw = w.readframes(nf)
                        pcm = np.frombuffer(raw, dtype="<i2") \
                            .astype(np.float64)
                        if nch > 1:
                            pcm = pcm.reshape(-1, nch).mean(axis=1)
                    n = pcm.size
                    if n == 0:
                        fps.append(None)
                        continue
                    f = (np.arange(n, dtype=np.int64) * n_frames) // n
                    en = np.bincount(f, weights=pcm * pcm,
                                     minlength=n_frames)
                    bits = en[:-1] < en[1:]
                    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
                    fps.append(v - (1 << 64) if v >= (1 << 63) else v)
                except Exception:
                    fps.append(None)
            pdf[out_col] = pd.Series(fps, dtype="Int64")
            yield pdf

    return df.mapInPandas(batches, out_schema)


def synthesize_png(df: DataFrame, id_col: str, *, height: int = 8,
                   width: int = 8, out_col: str = "png") -> DataFrame:
    """Deterministic PNG fixture column: pixel ``i`` of row ``id`` is
    ``(id*31 + i*7) % 256`` (row-major HWC, RGB), encoded with the vendored
    codec cycling through all five PNG filter types. The closed-form pixel
    law lets a SQL oracle recompute any downstream feature without a codec
    — proving the real encode->decode path end-to-end."""
    from . import png

    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.BinaryType())])
    n = height * width * 3

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n, dtype=np.int64)
        for pdf in it:
            payloads = []
            for did in pdf[id_col]:
                arr = ((int(did) * 31 + idx * 7) % 256).astype(np.uint8) \
                    .reshape(height, width, 3)
                payloads.append(png.encode(arr, filter_mode="cycle"))
            pdf[out_col] = payloads
            yield pdf

    return df.mapInPandas(batches, out_schema)


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
    from . import jpeg

    if height % 8 or width % 8:
        raise ValueError("synthesize_jpeg: height/width must be multiples "
                         "of 8 (constant-block exactness law)")
    if subsampling != "444" and not color:
        raise ValueError("synthesize_jpeg: chroma subsampling needs "
                         "color=True (grayscale has no chroma)")
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.BinaryType())])
    bh, bw = height // 8, width // 8
    enc = jpeg.encode_progressive if progressive else jpeg.encode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bidx = np.arange(bh * bw, dtype=np.int64).reshape(bh, bw)
        for pdf in it:
            payloads = []
            for did in pdf[id_col]:
                vals = (int(did) * 37 + bidx * 11) % 256
                arr = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
                if color:
                    arr = np.repeat(arr[:, :, None], 3, axis=2)
                payloads.append(enc(arr, quant=1, subsampling=subsampling))
            pdf[out_col] = payloads
            yield pdf

    return df.mapInPandas(batches, out_schema)


def synthesize_pdf(df: DataFrame, id_col: str, *, n_lines: int = 4,
                   out_col: str = "pdf",
                   compress: bool = True,
                   flavors: Sequence[str] | None = None) -> DataFrame:
    """Deterministic PDF fixture column (functions/pdf.py build_pdf —
    spec-valid single-page Helvetica): line ``j`` of row ``id`` reads
    ``doc <id> line <j> value <(id*31 + j*7) % 97>`` — a closed-form
    text law a SQL oracle replays without a PDF library, the jpeg/gif
    fixture pattern for the DOCUMENT modality.

    ``flavors`` (r8) cycles stream encodings by ``id`` — any
    :func:`~.pdf.build_pdf` compress mode ('flate'/'lzw'/'a85'/
    'a85+flate'/'none') plus ``'cmap'``, which emits a Type0
    /ToUnicode-CMap'd page (build_pdf_unicode) whose line law swaps in
    non-Latin text: ``док <id> γραμμή <j> 值 <(id*31 + j*7) % 97>`` —
    same closed form, exercising the full unicode decode chain."""
    from . import pdf as pdfmod

    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.BinaryType())])

    def build(d: int) -> bytes:
        mode = flavors[d % len(flavors)] if flavors else compress
        if mode in ("cmap", "cmap_objstm"):
            lines = [f"док {d} γραμμή {j} 值 {(d * 31 + j * 7) % 97}"
                     for j in range(n_lines)]
            return pdfmod.build_pdf_unicode(
                lines, objstm=(mode == "cmap_objstm"))
        if mode == "diffenc":
            # legacy simple-font /Differences arm (r9): accented law
            # text so the AGL-name resolution actually bites
            lines = [f"döc {d} ligne {j} café {(d * 31 + j * 7) % 97}°"
                     for j in range(n_lines)]
            return pdfmod.build_pdf_differences(lines)
        lines = [f"doc {d} line {j} value {(d * 31 + j * 7) % 97}"
                 for j in range(n_lines)]
        return pdfmod.build_pdf(lines, compress=mode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in it:
            pdf_[out_col] = [build(int(did)) for did in pdf_[id_col]]
            yield pdf_

    return df.mapInPandas(batches, out_schema)


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

    for name in (out_col, flag_col):
        if name in df.columns:
            raise ValueError(
                f"pdf_text: output column {name!r} already exists on "
                f"the input; pass out_col=/flag_col= to disambiguate")
    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.StringType()),
                               T.StructField(flag_col, T.BooleanType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in it:
            texts, reals = [], []
            for data in pdf_[bin_col]:
                try:
                    texts.append(pdfmod.extract_text(bytes(data)))
                    reals.append(True)
                except Exception:
                    texts.append(None)
                    reals.append(False)
            pdf_[out_col] = texts
            pdf_[flag_col] = reals
            yield pdf_

    return df.mapInPandas(batches, out_schema)


def synthesize_gif(df: DataFrame, id_col: str, *, height: int = 8,
                   width: int = 8, out_col: str = "gifb") -> DataFrame:
    """Deterministic GIF fixture column: pixel ``(r, c)`` of row ``id``
    holds index ``(id*29 + (r*width + c)*13) % 256`` under the grayscale
    identity palette. GIF is LOSSLESS, so the decode equals the formula
    per-pixel (no block trick needed) and a SQL oracle replays any
    downstream feature — same proof structure as :func:`synthesize_png`,
    exercising the variable-width LZW path instead of PNG filters."""
    from . import gif

    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.BinaryType())])
    n = height * width

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n, dtype=np.int64)
        for pdf in it:
            payloads = []
            for did in pdf[id_col]:
                arr = ((int(did) * 29 + idx * 13) % 256).astype(np.uint8) \
                    .reshape(height, width)
                payloads.append(gif.encode(arr))
            pdf[out_col] = payloads
            yield pdf

    return df.mapInPandas(batches, out_schema)


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
                    arr = _fake_decode(raw + i.to_bytes(4, "little"))
                    rec = {n: row[n] for n in names}
                    rec["frame_idx"] = i
                    rec[out_col] = {"height": arr.shape[0], "width": arr.shape[1],
                                    "channels": arr.shape[2],
                                    "pixels": arr.ravel().tolist(),
                                    # frames are ALWAYS the fake decode:
                                    # an omitted key would surface as
                                    # NULL, not False, and bool_and
                                    # gates would pass fakes (r5 review)
                                    "decode_real": False}
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
    import io
    import wave

    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.BinaryType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n_samples, dtype=np.int64)
        for pdf in it:
            payloads = []
            for did in pdf[id_col]:
                pcm = (((int(did) * 31 + idx * 17) % 2001) - 1000) \
                    .astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sample_rate)
                    w.writeframes(pcm.tobytes())
                payloads.append(buf.getvalue())
            pdf[out_col] = payloads
            yield pdf

    return df.mapInPandas(batches, out_schema)


def synthesize_flac(df: DataFrame, id_col: str, *, n_samples: int = 2048,
                    sample_rate: int = 8000, out_col: str = "flc",
                    subframe: str = "fixed2") -> DataFrame:
    """Deterministic FLAC fixture column (r8): the SAME integer PCM law
    as :func:`synthesize_wav` — sample ``i`` of row ``id`` is
    ``((id*31 + i*17) % 2001) - 1000`` — encoded losslessly through the
    vendored codec (:mod:`.flac`), so every oracle written for the WAV
    law replays unchanged against the FLAC arm; ``subframe='fixed2'``
    routes the fixture through the Rice-coded fixed-predictor path (the
    shape real encoders emit)."""
    from . import flac as flacmod

    out_schema = T.StructType(df.schema.fields +
                              [T.StructField(out_col, T.BinaryType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n_samples, dtype=np.int64)
        for pdf in it:
            pdf[out_col] = [
                flacmod.encode(((int(did) * 31 + idx * 17) % 2001) - 1000,
                               sample_rate=sample_rate,
                               subframe=subframe)
                for did in pdf[id_col]]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def audio_features(df: DataFrame, bin_col: str, out_col: str = "audio"
                   ) -> DataFrame:
    """Decode WAV bytes and extract features in ONE fused Python pass
    (decode never crosses the JVM boundary twice, same contract as
    :func:`image_pipeline`): sample_rate, n_samples, channels,
    duration_s, rms (int16-normalized), zero-crossing count. Real
    stdlib-``wave`` decode for PCM16 WAV; non-WAV bytes yield NULL.
    Compressed formats (mp3/ogg) need an external codec — plug one into
    the decode step here; the Spark-side plumbing is identical."""
    import io
    import wave

    out_schema = T.StructType(df.schema.fields + [T.StructField(
        out_col, T.StructType([
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_crossings", T.IntegerType()),
        ]))])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for data in pdf[bin_col]:
                try:
                    # label-distrusting dispatch via the shared
                    # magic table (r10): FLAC bytes route to the
                    # FLAC codec whatever the column was called
                    if _sniff(bytes(data[:16])) == "audio/flac":
                        # vendored FLAC codec (r8) — REAL lossless
                        # decode; non-16-bit widths rescale into the
                        # int16 domain so rms keeps the /32768 law
                        from . import flac as flacmod
                        sr, nch, fbps, arr = flacmod.decode(bytes(data))
                        nf = arr.shape[0]
                        pcm = arr.astype(np.float64)
                        if fbps != 16:
                            pcm *= 32768.0 / (1 << (fbps - 1))
                        pcm = pcm.mean(axis=1) if nch > 1 else pcm[:, 0]
                    else:
                        with wave.open(io.BytesIO(bytes(data)),
                                       "rb") as w:
                            sr, nch = w.getframerate(), w.getnchannels()
                            nf = w.getnframes()
                            raw = w.readframes(nf)
                        pcm = np.frombuffer(raw, dtype="<i2") \
                            .astype(np.float64)
                        if nch > 1:      # mixdown for summary features
                            pcm = pcm.reshape(-1, nch).mean(axis=1)
                    rms = float(np.sqrt(np.mean(pcm ** 2)) / 32768.0) \
                        if pcm.size else 0.0
                    zc = int(np.count_nonzero(
                        np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
                    feats.append({"sample_rate": sr, "n_samples": nf,
                                  "channels": nch,
                                  "duration_s": nf / sr if sr else 0.0,
                                  "rms": rms, "zero_crossings": zc})
                except Exception:
                    feats.append(None)
            pdf[out_col] = feats
            yield pdf

    return df.mapInPandas(batches, out_schema)
