"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages
(the LLM-training-pipeline media operators).

The decode kernels are pluggable: the default is a deterministic fake
decoder over this module's own synthetic media format (so every
Spark-side piece — schema, batching, partitioning, UDF signatures,
output shapes — is real and tested). ``decoder='real'`` dispatches on
magic bytes: WAV decodes via stdlib ``wave`` (executed + tested in this
container), PNG/JPEG via Pillow where installed, and anything else
raises ``NotImplementedError`` naming the exact dependency (PyAV).

Scale design:
- media rows are big (MBs); all stages are ``mapInPandas`` over the
  scan with NO shuffle — feature extraction is embarrassingly parallel.
- outputs carry (media_id, kind, features/frames/patches) and drop the
  raw bytes as early as possible so downstream joins move KBs, not MBs.
- ``spark.sql.files.maxPartitionBytes`` (not row count) governs batch
  memory; with 128 MB splits a 100 TB media table is ~800k independent
  tasks.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Media table schema: opaque payload + typed metadata (the multimodal
#: analogue of FIXTURES docs: id + blob + flat metadata columns).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("codec", StringType()),
    ]
)

_MAGIC = b"SYNM"  # synthetic-media container magic


def encode_fake_image(width: int, height: int, seed: int) -> bytes:
    """Deterministic synthetic image payload: header + u8 pixel grid
    generated from the seed. Stands in for PNG/JPEG bytes."""
    rng = np.random.default_rng(seed)
    pixels = rng.integers(0, 256, size=(height, width), dtype=np.uint8)
    return _MAGIC + struct.pack("<III", width, height, 1) + pixels.tobytes()


def encode_fake_video(width: int, height: int, n_frames: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    pixels = rng.integers(0, 256, size=(n_frames, height, width), dtype=np.uint8)
    return _MAGIC + struct.pack("<III", width, height, n_frames) + pixels.tobytes()


def _decode_fake(payload: bytes) -> np.ndarray:
    """(n_frames, height, width) u8 array from the synthetic container."""
    if payload[:4] != _MAGIC:
        raise ValueError("not a synthetic-media payload")
    w, h, n = struct.unpack("<III", payload[4:16])
    return np.frombuffer(payload[16:], dtype=np.uint8).reshape(n, h, w)


def _decode_real(payload: bytes) -> np.ndarray:
    """Real-codec path, dispatched on the container's magic bytes:

    - RIFF/WAVE → stdlib ``wave`` (always available): 16-bit mono PCM
      mapped to u8 as ``(s >> 8) + 128``, shaped (1, 1, n_samples) so
      every downstream feature stage treats audio as a 1-pixel-tall
      "frame" — same schema, no special-casing.
    - PNG/JPEG → Pillow, greyscale-converted, shaped (1, h, w); gated on
      import (absent in this container, executed where installed).
    - anything else → NotImplementedError naming the dependency (PyAV
      for video). The synthetic decoder exercises identical plumbing.
    """
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise NotImplementedError("only 16-bit mono PCM WAV is decoded")
            raw = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
        u8 = ((raw.astype(np.int64) >> 8) + 128).astype(np.uint8)
        return u8.reshape(1, 1, -1)
    if payload[:8] == b"\x89PNG\r\n\x1a\n" or payload[:3] == b"\xff\xd8\xff":
        try:
            from PIL import Image  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "real image decode requires Pillow; install it or use the "
                "synthetic decoder, which exercises identical Spark plumbing"
            ) from e
        import io

        img = Image.open(io.BytesIO(payload)).convert("L")
        return np.asarray(img, dtype=np.uint8)[None, :, :]
    raise NotImplementedError(
        "unrecognized media container: real video decode requires PyAV; "
        "WAV (stdlib) and PNG/JPEG (Pillow) are the supported real codecs. "
        "The synthetic decoder exercises the identical Spark plumbing."
    )


def _decoder(name: str):
    return {"fake": _decode_fake, "real": _decode_real}[name]


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_intensity", DoubleType()),
        StructField("std_intensity", DoubleType()),
        StructField("histogram", ArrayType(FloatType())),  # 16-bin luma hist
    ]
)


def extract_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """Decode → per-media intensity stats + 16-bin histogram.

    mapInPandas: Arrow batches in, bounded output rows out; the payload
    column never survives past this stage."""
    dec = _decoder(decoder)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # Decode is per-payload (opaque codec), but ALL math runs on
            # stacked numpy batches grouped by frame shape — one
            # mean/std/bincount call per shape group, not per media row.
            arrs = [dec(bytes(p)) for p in pdf["payload"]]
            n = len(arrs)
            mean = np.empty(n)
            std = np.empty(n)
            hists: list[np.ndarray | None] = [None] * n
            by_shape: dict[tuple, list[int]] = {}
            for i, a in enumerate(arrs):
                by_shape.setdefault(a.shape, []).append(i)
            for idxs in by_shape.values():
                flat = (
                    np.stack([arrs[i] for i in idxs])
                    .astype(np.float64)
                    .reshape(len(idxs), -1)
                )
                mean[idxs] = flat.mean(axis=1)
                std[idxs] = flat.std(axis=1)
                # per-row 16-bin histogram over [0,256) in one bincount:
                # uint8 // 16 == np.histogram's bin index for these edges
                bins = np.clip(flat.astype(np.int64) >> 4, 0, 15)
                offs = (np.arange(len(idxs))[:, None] * 16 + bins).ravel()
                h = np.bincount(offs, minlength=len(idxs) * 16).reshape(len(idxs), 16)
                h = (h / flat.shape[1]).astype(np.float32)
                for j, i in enumerate(idxs):
                    hists[i] = h[j]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "n_frames": [int(a.shape[0]) for a in arrs],
                    "mean_intensity": mean,
                    "std_intensity": std,
                    "histogram": [list(h) for h in hists],
                }
            )

    return df.mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_images(df: DataFrame, out_w: int, out_h: int, decoder: str = "fake") -> DataFrame:
    """Nearest-neighbour resize (deterministic), re-encoded in the
    synthetic container — the transform-in-place media stage shape."""
    dec = _decoder(decoder)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = dec(bytes(r.payload))
                n, h, w = arr.shape
                ys = (np.arange(out_h) * h // out_h).astype(np.int64)
                xs = (np.arange(out_w) * w // out_w).astype(np.int64)
                resized = arr[:, ys][:, :, xs]
                payload = _MAGIC + struct.pack("<III", out_w, out_h, n) + resized.tobytes()
                rows.append((r.media_id, out_w, out_h, payload))
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return df.mapInPandas(batches, RESIZED_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("mean_intensity", DoubleType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 2, decoder: str = "fake") -> DataFrame:
    """Video frame sampling: one output row per kept frame (row-expanding
    media stage; the UDTF shape). Keeps frame bytes only — at scale the
    expansion factor is n_frames/every_n, planned via maxPartitionBytes."""
    dec = _decoder(decoder)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = dec(bytes(r.payload))
                for idx in range(0, arr.shape[0], every_n):
                    frame = arr[idx]
                    rows.append(
                        (r.media_id, idx, float(frame.mean()), frame.tobytes())
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SAMPLE_SCHEMA.fields])

    return df.mapInPandas(batches, FRAME_SAMPLE_SCHEMA)


def media_embedding(df: DataFrame, dim: int = 64, decoder: str = "fake") -> DataFrame:
    """Media → embedding via the histogram features projected through a
    fixed seeded random matrix (CLIP-encoder stand-in with the same
    contract: media in, unit-norm float vector out)."""
    feats = extract_features(df, decoder=decoder)
    proj = np.random.default_rng(42).standard_normal((16, dim))

    @F.pandas_udf(ArrayType(FloatType()))
    def project(hist: pd.Series) -> pd.Series:
        out = []
        for hvec in hist:
            v = np.asarray(hvec, dtype=np.float64) @ proj
            n = np.linalg.norm(v)
            out.append((v / n if n else v).astype(np.float32))
        return pd.Series(out)

    return feats.select("media_id", "kind", project("histogram").alias("embedding"))
