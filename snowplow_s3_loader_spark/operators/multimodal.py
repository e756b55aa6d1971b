"""Multimodal-column plumbing: image/audio/video as opaque binary columns
with typed metadata (SURVEY.md SS7.8).

The Spark-side contract is real and tested — schema, Arrow batch shape,
mapInPandas signatures, partitioning. The actual media decode is stubbed:
the container has no image/audio libs, so `decode_image`/`decode_audio`
raise NotImplementedError unless the optional lib imports, and
`extract_features` uses a deterministic fake (byte-level stats) so the
pipeline is end-to-end testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("n_chunks", IntegerType()),
        StructField("digest", StringType()),
    ]
)

CHUNK_BYTES = 256


def to_media(df: DataFrame, id_col: str, payload_col: str, mime: str) -> DataFrame:
    """Wrap an arbitrary column as an opaque media payload (binary + mime)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.lit(mime).alias("mime"),
    )


def decode_image(payload: bytes):
    """Real image decode — stubbed: PIL is not in this container."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as e:
        raise NotImplementedError("image decoding requires pillow (not installed)") from e


def decode_audio(payload: bytes):
    try:
        import soundfile  # noqa: F401
        import io

        return soundfile.read(io.BytesIO(payload))
    except ImportError as e:
        raise NotImplementedError("audio decoding requires soundfile (not installed)") from e


def extract_features(media: DataFrame, chunk_bytes: int = CHUNK_BYTES) -> DataFrame:
    """Deterministic fake feature extraction over Arrow batches.

    Stands in for decode/resize/frame-sample: per payload emits byte length,
    ceil-div chunk count, and md5 digest. The mapInPandas plumbing (schema
    in/out, batch iteration, partition preservation) is the real article.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "n_chunks": payloads.map(
                        lambda b: (len(b) + chunk_bytes - 1) // chunk_bytes
                    ).astype("int32"),
                    "digest": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n_chunks: int = 4) -> DataFrame:
    """Frame/segment sampling plumbing: split each payload into fixed-size
    chunks, keep every n-th. Runs as explode over JVM expressions (no
    Python); the decode of each chunk would be the stubbed step."""
    n_chunks = F.ceil(F.octet_length("payload") / F.lit(CHUNK_BYTES)).cast("int")
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1))
    return (
        media.withColumn("chunk_idx", idx)
        .filter(F.col("chunk_idx") % every_n_chunks == 0)
        .select(
            "media_id",
            "chunk_idx",
            F.substring(
                F.col("payload"), F.col("chunk_idx") * CHUNK_BYTES + 1, CHUNK_BYTES
            ).alias("chunk"),
        )
    )


def fake_decode_image(payload: bytes, width: int = 16, height: int = 16,
                      channels: int = 3):
    """Deterministic stand-in decoder (container has no PIL): expand the
    payload into an (H, W, C) uint8 array via an md5-keyed byte stream.
    Same output shape/dtype a real decode produces, so every downstream
    stage (resize, channel stats, batching) runs the real array math."""
    import numpy as np

    need = width * height * channels
    out = bytearray()
    counter = 0
    while len(out) < need:
        # ASCII counter key (not raw bytes): reproducible from any engine
        # that can md5 strings (the DuckDB oracle recomputes this stream)
        out += hashlib.md5(payload + b":%d" % counter).digest()
        counter += 1
    return np.frombuffer(bytes(out[:need]), dtype=np.uint8).reshape(
        (height, width, channels)
    )


IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mean_r", StringType()),
        StructField("mean_g", StringType()),
        StructField("mean_b", StringType()),
        StructField("ds_height", IntegerType()),
        StructField("ds_width", IntegerType()),
    ]
)


def image_channel_stats(
    media: DataFrame,
    width: int = 16,
    height: int = 16,
    factor: int = 2,
    decoder=None,
) -> DataFrame:
    """Decode -> downsample -> per-channel stats over Arrow batches: the
    full shape of an image training-data stage (N x H x W x C array math
    per batch, nothing per-row in Python-object land).

    `decoder` is any callable (payload: bytes, width, height) -> (H, W, 3)
    uint8 array; it ships inside the serialized UDF to the executors. The
    default is the deterministic fake (this image has no PIL); a deployment
    with real codecs passes e.g.
    ``lambda b, w, h: np.asarray(PIL.Image.open(io.BytesIO(b)).resize((w, h)))``
    and nothing else changes — schema, batching, and the Arrow plumbing are
    decoder-independent."""
    import numpy as np

    decode = decoder or fake_decode_image

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            imgs = np.stack(
                [decode(b, width, height) for b in pdf["payload"]]
            )  # (N, H, W, C) — one vectorized block per Arrow batch
            ds = (
                imgs[:, : (height // factor) * factor, : (width // factor) * factor]
                .reshape(len(pdf), height // factor, factor, width // factor, factor, 3)
                .mean(axis=(2, 4))
            )
            means = ds.mean(axis=(1, 2))  # (N, C)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mean_r": [f"{m:.4f}" for m in means[:, 0]],
                    "mean_g": [f"{m:.4f}" for m in means[:, 1]],
                    "mean_b": [f"{m:.4f}" for m in means[:, 2]],
                    "ds_height": np.full(len(pdf), height // factor, dtype="int32"),
                    "ds_width": np.full(len(pdf), width // factor, dtype="int32"),
                }
            )

    return media.mapInPandas(_stats, schema=IMAGE_STATS_SCHEMA)
