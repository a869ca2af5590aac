"""Multimodal (image/audio/video) columns as opaque binaries + typed metadata.

A 100 TB training-data pipeline carries media as ``binary`` payload columns
with a typed metadata struct; decode/feature-extract/resize/frame-sample run
inside one ``mapInArrow`` batch at a time, so payload bytes never cross a
per-row Python boundary.

``decode_media`` is a REAL decoder for the formats stdlib can express:
PNG (zlib inflate + full five-filter unfiltering), PCM16 WAV, and MPNG
(length-prefixed PNG frames — the fixture video container); see
``tsrollup.media_codecs``. Formats that genuinely require external codec
libraries (JPEG, H.264, …) raise NotImplementedError with the library to
install.

Media table schema (one row per asset):
    media_id : string
    kind     : string            -- 'image' | 'audio' | 'video'
    payload  : binary            -- encoded bytes (png | wav | mpng)
    meta     : struct<width:int, height:int, channels:int,
                      sample_rate:int, n_frames:int, fmt:string>
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

from .arrowbuf import arrow_schema, rows_batch

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
    StructField("meta", StructType([
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fmt", StringType()),
    ])),
])

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes long, "
    "mean array<double>, std array<double>, "
    "thumb array<double>, n_frames_sampled int"
)

THUMB = 4  # thumbnail side after strided resize


def decode_media(payload: bytes, meta: dict) -> np.ndarray:
    """Real decoder for the stdlib-expressible formats (PNG/WAV/MPNG via
    tsrollup.media_codecs); external-codec formats raise with the dependency
    named — the swap point for a PIL/ffmpeg-equipped cluster."""
    from . import media_codecs as mc

    fmt = meta["fmt"]
    if fmt == "png":
        return mc.decode_png(bytes(payload))
    if fmt == "wav":
        samples, _sr = mc.decode_wav(bytes(payload))
        return samples[:, 0] if samples.shape[1] == 1 else samples
    if fmt == "mpng":
        return mc.decode_mpng(bytes(payload))
    raise NotImplementedError(
        f"format {fmt!r} needs an external codec (PIL/ffmpeg) not present "
        "in this container")


def _resize_strided(img: np.ndarray, side: int = THUMB) -> np.ndarray:
    """Strided-subsample resize to (side, side, C) — deterministic, no interp."""
    h, w = img.shape[0], img.shape[1]
    ri = (np.arange(side) * h) // side
    ci = (np.arange(side) * w) // side
    return img[ri][:, ci]


def extract_features(df: DataFrame, frame_stride: int = 2) -> DataFrame:
    """decode → (frame-sample for video) → per-channel mean/std → strided
    thumbnail, one Arrow batch at a time. The shuffle-free scale path: media
    rows are independent, so this is a pure mapInArrow over the scan."""
    out_schema = arrow_schema(FEATURE_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            rows = []
            for r in rb.to_pylist():
                payload, meta = r["payload"], r["meta"]
                arr = decode_media(payload, meta)
                n_sampled = 0
                if meta["fmt"] == "mpng":
                    arr = arr[::frame_stride]          # frame sampling
                    n_sampled = arr.shape[0]
                    arr = arr.reshape((-1,) + arr.shape[2:])  # stack frames
                if arr.ndim == 1:                       # audio → (n, 1)
                    arr = arr[:, None]
                flat = arr.reshape(-1, arr.shape[-1]).astype(np.float64)
                mean = flat.mean(axis=0)
                std = flat.std(axis=0)
                thumb = (_resize_strided(arr).astype(np.float64).ravel()
                         if arr.ndim == 3 else np.zeros(0))
                rows.append((r["media_id"], r["kind"], len(payload), mean,
                             std, thumb, n_sampled))
            if rows:
                yield rows_batch(rows, out_schema)

    return df.select("media_id", "kind", "payload", "meta") \
             .mapInArrow(run, FEATURE_SCHEMA)


def generate_media(seed: int, n: int) -> pd.DataFrame:
    """Seeded synthetic media table of GENUINE encoded payloads — PNG
    images, PCM16 WAVs, MPNG videos — that :func:`decode_media` decodes."""
    from . import media_codecs as mc

    rng = np.random.default_rng(seed)
    kinds = rng.choice(["image", "audio", "video"], size=n, p=[0.6, 0.2, 0.2])
    rows = []
    for i in range(n):
        kind = str(kinds[i])
        if kind == "image":
            h, w, c = int(rng.integers(8, 64)), int(rng.integers(8, 64)), 3
            meta = {"width": w, "height": h, "channels": c, "sample_rate": 0,
                    "n_frames": 0, "fmt": "png"}
            payload = mc.encode_png(
                rng.integers(0, 256, (h, w, c), dtype=np.uint8))
        elif kind == "audio":
            sr = int(rng.integers(100, 2000))
            meta = {"width": 0, "height": 0, "channels": 1, "sample_rate": sr,
                    "n_frames": 0, "fmt": "wav"}
            payload = mc.encode_wav(
                rng.integers(-2 ** 15, 2 ** 15, sr).astype(np.int16), sr)
        else:
            h, w, c, nf = (int(rng.integers(4, 16)), int(rng.integers(4, 16)),
                           3, int(rng.integers(2, 12)))
            meta = {"width": w, "height": h, "channels": c, "sample_rate": 0,
                    "n_frames": nf, "fmt": "mpng"}
            payload = mc.encode_mpng(
                rng.integers(0, 256, (nf, h, w, c), dtype=np.uint8))
        rows.append({
            "media_id": f"m-{seed:04d}-{i:06d}",
            "kind": kind,
            "payload": payload,
            "meta": meta,
        })
    return pd.DataFrame(rows)
