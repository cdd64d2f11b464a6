"""Multimodal column plumbing: images/audio/video as opaque ``binary``
payloads with typed metadata, processed via Arrow-batched mapInPandas.

The decode/feature-extract kernels are STUBBED (this container has no
image/audio libraries) behind ``DecodeUnavailable`` or a deterministic
fake — but the Spark-side plumbing is real and tested: schema, batch
iteration shape, partition sizing, and the metadata passthrough
contract. Swapping a real decoder in changes ONE function.

Schema convention:
    media(media_ref string, kind string, payload binary,
          meta struct<width:int, height:int, duration_ms:int, codec:string>)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16


class DecodeUnavailable(NotImplementedError):
    """Raised by the decoder dispatcher for codecs that would need an
    image library (JPEG/PNG/...); uncompressed containers decode
    natively below."""


# ---------------------------------------------------------------------------
# Real decoders for uncompressed containers (round-5): pure numpy, no
# image library. Grayscale convention: float32 HxW in [0,1]; color inputs
# are reduced with Rec.601 luma (0.299 R + 0.587 G + 0.114 B) — the same
# single-channel shape every downstream op (resize_bilinear, features)
# already consumes.
# ---------------------------------------------------------------------------

_LUMA = np.array([0.299, 0.587, 0.114], dtype=np.float64)


def decode_netpbm(payload: bytes) -> np.ndarray:
    """Binary netpbm: P5 (PGM grayscale) and P6 (PPM RGB). Full header
    grammar — whitespace-separated tokens with '#' comments — and both
    sample widths (1 byte for maxval < 256, 2-byte BIG-endian above,
    per the spec)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: magic {payload[:2]!r}")
    rgb = payload[:2] == b"P6"
    # header tokenizer: exactly 3 integer tokens after the magic
    # (width, height, maxval); a single whitespace byte ends the header
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte that terminates the header
    w, h, maxval = tokens
    if w <= 0 or h <= 0 or not (0 < maxval < 65536):
        raise ValueError(f"bad netpbm dimensions/maxval {w}x{h}/{maxval}")
    channels = 3 if rgb else 1
    wide = maxval > 255
    need = w * h * channels * (2 if wide else 1)
    raster = payload[pos : pos + need]
    if len(raster) < need:
        raise ValueError(f"truncated netpbm raster: {len(raster)} < {need}")
    dt = np.dtype(">u2") if wide else np.dtype("u1")
    arr = np.frombuffer(raster, dtype=dt).astype(np.float64) / maxval
    if rgb:
        return (arr.reshape(h, w, 3) @ _LUMA).astype(np.float32)
    return arr.reshape(h, w).astype(np.float32)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed Windows BMP (BITMAPINFOHEADER, BI_RGB): 24-bit BGR
    and 8-bit paletted. Bottom-up row order (top-down when biHeight is
    negative), rows padded to 4 bytes — the layout quirks that make BMP
    a real decode, all handled in numpy."""
    if payload[:2] != b"BM":
        raise ValueError(f"not a BMP payload: magic {payload[:2]!r}")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise DecodeUnavailable(f"BMP core-header size {hdr_size} unsupported")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0:  # BI_RGB only
        raise DecodeUnavailable(
            f"compressed BMP (method {compression}) needs an image library"
        )
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP dimensions {w}x{h}")
    row_bytes = (w * bpp // 8 + 3) & ~3  # 4-byte row alignment
    raster = payload[data_off : data_off + row_bytes * h]
    if len(raster) < row_bytes * h:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]  # stored bottom-up
    if bpp == 24:
        bgr = rows[:, : w * 3].reshape(h, w, 3).astype(np.float64) / 255.0
        return (bgr[:, :, ::-1] @ _LUMA).astype(np.float32)  # BGR -> RGB
    if bpp == 8:
        # palette: <=256 BGRX quads between the headers and the raster
        pal_off = 14 + hdr_size
        n_colors = int.from_bytes(payload[46:50], "little") or 256
        pal = np.frombuffer(
            payload[pal_off : pal_off + n_colors * 4], dtype=np.uint8
        ).reshape(-1, 4)[:, :3].astype(np.float64) / 255.0  # B,G,R
        luma = pal[:, ::-1] @ _LUMA  # per-palette-entry luma
        idx = rows[:, :w]
        if idx.max(initial=0) >= len(luma):
            raise ValueError("BMP palette index out of range")
        return luma[idx].astype(np.float32)
    raise DecodeUnavailable(f"BMP bit depth {bpp} unsupported (24/8 only)")


def decode_image(payload: bytes, height: int | None = None, width: int | None = None) -> np.ndarray:
    """Real-decoder dispatcher (the former stub slot): uncompressed BMP
    and binary PPM/PGM decode natively; anything else raises
    ``DecodeUnavailable`` (compressed codecs genuinely need an image
    library this container lacks). ``height``/``width`` are the meta
    hints — the CONTAINER dimensions win; a mismatch with non-None hints
    raises, catching stale metadata instead of silently resizing."""
    magic = bytes(payload[:2])
    if magic == b"BM":
        img = decode_bmp(payload)
    elif magic in (b"P5", b"P6"):
        img = decode_netpbm(payload)
    else:
        raise DecodeUnavailable(
            f"codec magic {magic!r} has no native decoder (BMP/PPM/PGM "
            "only); swap in a library-backed decode_fn for it"
        )
    if height is not None and width is not None and img.shape != (height, width):
        raise ValueError(
            f"meta says {height}x{width} but payload decodes to "
            f"{img.shape[0]}x{img.shape[1]}"
        )
    return img


def decode_image_or_fake(payload: bytes, height: int, width: int) -> np.ndarray:
    """Drop-in ``decode_fn`` for ``resize_media``: real decode when the
    payload is a supported container, deterministic hash-image fallback
    otherwise (synthetic refs, exotic codecs) — so one pipeline handles
    mixed real/synthetic media columns."""
    try:
        return decode_image(payload)
    except (DecodeUnavailable, ValueError):
        return deterministic_fake_image(payload, height, width)


def deterministic_fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in feature vector derived from the payload hash
    — keeps every test reproducible and the plumbing end-to-end real."""
    h = hashlib.sha256(payload).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_media_features(
    media: DataFrame,
    feature_fn=deterministic_fake_features,
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """media -> (media_ref, kind, features array<float>) via mapInPandas.

    The kernel sees Arrow batches; payloads are bytes. Batch shape and
    metadata passthrough are the real contract; the feature function is
    the swappable slot (real decoder vs deterministic fake).
    """
    out_schema = "media_ref string, kind string, features array<float>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = [
                None if p is None else feature_fn(bytes(p), dim).tolist()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    cols = media.select("media_ref", "kind", "payload")
    return cols.mapInPandas(kernel, out_schema)


def features_long(feats: DataFrame) -> DataFrame:
    """(media_ref, kind, features array<float>) -> long form
    (media_ref, kind, dim_idx, value double). Canonicalizable (no list
    columns) — the shape driver-side checks and parquet sinks want."""
    return feats.select(
        "media_ref",
        "kind",
        F.posexplode("features").alias("dim_idx", "value"),
    ).select(
        "media_ref",
        "kind",
        F.col("dim_idx").cast("bigint").alias("dim_idx"),
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


def media_from_table(
    rows: DataFrame, ref_col: str = "media_ref", kind: str = "image"
) -> DataFrame:
    """Any table with a media-reference column -> the media schema, with a
    deterministic payload derived from the ref (stand-in for the object-
    store fetch a production pipeline does by media_ref)."""
    return rows.select(
        F.col(ref_col).alias("media_ref"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(ref_col), "utf-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )


def deterministic_fake_image(payload: bytes, height: int, width: int) -> np.ndarray:
    """Deterministic decoded-image stand-in: hash-seeded float32 HxW array
    in [0,1). Swap slot for ``_decode_image_real``; everything downstream
    (resize, feature extraction) is REAL math over this array."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.random((height, width), dtype=np.float32)


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Real bilinear resize (pixel-center sampling, the OpenCV/PIL
    align_corners=False convention) in pure numpy — no image library."""
    h, w = img.shape
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * w / out_w - 0.5
    y0f, x0f = np.floor(ys), np.floor(xs)
    fy, fx = ys - y0f, xs - x0f
    y0 = np.clip(y0f.astype(int), 0, h - 1)
    y1 = np.clip(y0f.astype(int) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(int), 0, w - 1)
    x1 = np.clip(x0f.astype(int) + 1, 0, w - 1)
    fy = fy[:, None]
    fx = fx[None, :]
    a = img[np.ix_(y0, x0)].astype(np.float64)
    b = img[np.ix_(y1, x0)].astype(np.float64)
    c = img[np.ix_(y0, x1)].astype(np.float64)
    d = img[np.ix_(y1, x1)].astype(np.float64)
    out = a * (1 - fy) * (1 - fx) + b * fy * (1 - fx) + c * (1 - fy) * fx + d * fy * fx
    return out.astype(np.float32)


def resize_media(
    media: DataFrame,
    out_h: int = 8,
    out_w: int = 8,
    decode_fn=deterministic_fake_image,
) -> DataFrame:
    """media -> (media_ref, kind, out_h, out_w, pixels array<float>)
    via mapInPandas: decode (swappable slot) -> REAL bilinear resize ->
    row-major flattened pixels. The Arrow batch shape, meta passthrough
    (source dims come from ``meta``), and output schema are the production
    contract; only the decoder is a stand-in."""
    out_schema = (
        "media_ref string, kind string, out_h int, out_w int, "
        "pixels array<float>"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pixels = []
            for ref, p, m in zip(pdf["media_ref"], pdf["payload"], pdf["meta"]):
                if p is None:
                    pixels.append(None)
                    continue
                h = int(m["height"]) if m is not None and m["height"] is not None else 64
                w = int(m["width"]) if m is not None and m["width"] is not None else 64
                if h <= 0 or w <= 0:
                    raise ValueError(
                        f"non-positive media dimensions {h}x{w} for "
                        f"media_ref={ref!r} — malformed meta"
                    )
                img = decode_fn(bytes(p), h, w)
                pixels.append(resize_bilinear(img, out_h, out_w).ravel().tolist())
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "out_h": out_h,
                    "out_w": out_w,
                    "pixels": pixels,
                }
            )

    return media.select("media_ref", "kind", "payload", "meta").mapInPandas(
        kernel, out_schema
    )


def sample_frames(
    media: DataFrame,
    n_frames: int = 4,
    feature_fn=deterministic_fake_features,
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """Video frame sampling: for each media row with a duration, emit
    ``n_frames`` evenly spaced frames (pixel-center convention:
    ts_i = (i + 0.5) * duration / n) with per-frame features.

    -> (media_ref, frame_idx, ts_ms, frame_features array<float>).
    Frame DECODE is the stand-in slot (features derive deterministically
    from payload + frame index); the explode shape, timestamp math, and
    schema are the production contract."""
    out_schema = (
        "media_ref string, frame_idx int, ts_ms bigint, "
        "frame_features array<float>"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            refs, idxs, tss, feats = [], [], [], []
            for ref, p, m in zip(pdf["media_ref"], pdf["payload"], pdf["meta"]):
                if p is None or m is None or m["duration_ms"] is None:
                    continue
                dur = int(m["duration_ms"])
                for i in range(n_frames):
                    refs.append(ref)
                    idxs.append(i)
                    tss.append(int((i + 0.5) * dur / n_frames))
                    feats.append(
                        feature_fn(bytes(p) + i.to_bytes(4, "big"), dim).tolist()
                    )
            if not refs:  # all-image batch: empty object columns won't
                continue  # round-trip through Arrow's list<float> writer
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "ts_ms": pd.array(tss, dtype="int64"),
                    "frame_features": feats,
                }
            )

    return media.select("media_ref", "payload", "meta").mapInPandas(
        kernel, out_schema
    )
