"""Multimodal columns: image/audio/video as opaque `binary` columns
with typed metadata, processed via Arrow-batched mapInPandas.

The decode step degrades gracefully: `real_decode=True` probes for
Pillow at call time and uses it when importable (true decode /
LANCZOS resize), raising NotImplementedError only when the library is
genuinely absent — so the same code becomes a real operator the moment
the environment gains the lib. The default is a deterministic fake
extractor (byte-histogram features / stride downsample) so the
Spark-side plumbing — schema, partitioning, UDF signature, Arrow batch
shape — is real and tested even in lib-less containers like this one.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),      # image|audio|video
        T.StructField("mime", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), False),   # opaque bytes
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("crc32", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def synth_media(df: DataFrame) -> DataFrame:
    """Deterministic fake media table from (doc_id, text) documents: text
    bytes become the opaque payload; metadata derived from lengths. Pure
    function of the input."""
    return df.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        (F.length("text") % 640 + 16).cast("int").alias("width"),
        (F.length("text") % 480 + 16).cast("int").alias("height"),
        (F.length("text") * 10).cast("int").alias("duration_ms"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def _fake_features(payload: bytes, n_bins: int = 16) -> np.ndarray:
    """Deterministic stand-in for a real decoder: normalized byte
    histogram. REPLACE with a real decode on clusters with media libs."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if len(arr) == 0:
        return np.zeros(n_bins)
    hist, _ = np.histogram(arr, bins=n_bins, range=(0, 256))
    return hist / len(arr)


def _real_image_features(payload: bytes, n_bins: int = 16) -> np.ndarray:
    """Real decode branch (used when Pillow is importable): decoded
    luminance histogram — same shape/normalization contract as
    `_fake_features`, but over actual pixel values."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        lum = np.asarray(im.convert("L"), dtype=np.uint8).ravel()
    if len(lum) == 0:
        return np.zeros(n_bins)
    hist, _ = np.histogram(lum, bins=n_bins, range=(0, 256))
    return hist / len(lum)


def decode_image_features(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    real_decode=True decodes with Pillow when it is importable
    (optional dependency — probed at call time on the driver, imported
    again inside the kernel on each executor) and raises
    NotImplementedError when it is not, so the operator becomes real
    the moment the environment gains the library. The default is the
    deterministic byte-histogram stub — same schema, no decode."""
    if real_decode:
        try:
            from PIL import Image  # noqa: F401 — probe only
        except ImportError as e:
            raise NotImplementedError(
                "real image decode requires Pillow (not importable here); "
                "install it or use the deterministic default extractor"
            ) from e

    def extract(batches):
        feat = _real_image_features if real_decode else _fake_features
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "crc32": pdf["payload"].map(lambda b: zlib.crc32(b)).astype("int64"),
                    "features": pdf["payload"].map(lambda b: feat(bytes(b)).tolist()),
                }
            )

    return df.select("media_id", "payload").mapInPandas(extract, FEATURES_SCHEMA)


_N_FRAMES = 4


def sample_frames(df: DataFrame) -> DataFrame:
    """Deterministic frame sampling: split the payload into 4 equal
    byte slices (stand-in for video frame extraction; the Spark-side
    shape — one row per (media, frame) — is the real contract)."""

    def sample(batches):
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                step = max(1, len(b) // _N_FRAMES)
                for i in range(_N_FRAMES):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[i * step : (i + 1) * step])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.select("media_id", "payload").mapInPandas(sample, FRAMES_SCHEMA)


RESIZED_SCHEMA = (
    "media_id long, width int, height int, payload binary, n_bytes long"
)


def resize_images(df: DataFrame, width: int = 64, height: int = 64,
                  real_decode: bool = False) -> DataFrame:
    """mapInPandas image resize over binary payloads.

    Default semantics (no image libs required): the 'resized' payload
    is a deterministic byte downsample to width*height bytes (stride
    sampling) — preserving the real contract (one row per media, new
    dims in metadata, smaller payload). real_decode=True uses Pillow
    when importable (probed at call time, re-imported inside the kernel
    on executors) — actual decode → LANCZOS resize → PNG re-encode —
    and raises NotImplementedError when Pillow is absent."""
    if real_decode:
        try:
            from PIL import Image  # noqa: F401 — probe only
        except ImportError as e:
            raise NotImplementedError(
                "real image resize requires Pillow (not importable here); "
                "install it or use the deterministic stride downsample"
            ) from e
    target = width * height

    def _real_resize(payload: bytes) -> bytes:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            buf = io.BytesIO()
            im.resize(
                (width, height), resample=Image.Resampling.LANCZOS
            ).save(buf, format="PNG")
            return buf.getvalue()

    def _stride_resize(payload) -> bytes:
        b = np.frombuffer(bytes(payload), np.uint8)
        idx = np.linspace(0, max(len(b) - 1, 0), num=min(target, max(len(b), 1)),
                          dtype=np.int64)
        return b[idx].tobytes() if len(b) else b""

    def shrink(batches):
        import pandas as pd

        one = _real_resize if real_decode else _stride_resize
        for pdf in batches:
            out = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "payload": out,
                    "n_bytes": pd.Series([len(x) for x in out], dtype="int64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(shrink, RESIZED_SCHEMA)
