"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata struct
(modality, format, width/height/duration, …). Decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` stages — the only
place Python touches the data path, and it's vectorized per batch.

The actual codec decode is STUBBED (`decode_stub`) because no image/audio
libraries exist in this container: it derives deterministic fake features
from the bytes so the Spark-side plumbing (schema, batch shape, partitioning)
is real and testable. Swap ``decode_stub`` for a real decoder (PIL/ffmpeg)
in production — the plan shape does not change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_digest", StringType()),
        # double (not float) so stubbed features are engine-portable exactly
        StructField("features", ArrayType(DoubleType())),
    ]
)


def decode_stub(payload: bytes, n_features: int = 8) -> list[float]:
    """Deterministic fake decoder: md5 the payload, fold hex pairs into
    [0, 1) floats. Replace with a real codec in production. One md5
    yields 16 byte-pairs; wider feature vectors chain counter-suffixed
    digests so any ``n_features`` works (decode_real resizes to any
    width, and the two must stay drop-in interchangeable).
    """
    digest = ""
    block = 0
    while len(digest) < 2 * n_features:
        suffix = b"" if block == 0 else str(block).encode()
        digest += hashlib.md5(payload + suffix).hexdigest()
        block += 1
    return [
        int(digest[2 * i : 2 * i + 2], 16) / 255.0 for i in range(n_features)
    ]


# Optional real decode path: probed at import, never required. The
# container this repo is developed in ships no image/audio libraries, so
# the deterministic stub is the tested default; a deployment with Pillow
# installed gets a REAL image decode with the same signature and schema
# (branch selection is itself pinned by test under whichever branch the
# environment supports).
try:  # pragma: no cover - which branch runs depends on the environment
    from PIL import Image as _PILImage  # type: ignore

    HAS_PIL = True
except ImportError:
    _PILImage = None
    HAS_PIL = False


def decode_real(payload: bytes, n_features: int = 8) -> list[float]:
    """Real image decode (requires Pillow): decode the payload, collapse
    to grayscale, resample to ``n_features`` pixels, emit [0, 1] floats —
    same signature, output length, and value range as ``decode_stub``,
    so the two are drop-in interchangeable under ``extract_features``.
    Raises ``NotImplementedError`` (not ImportError at call time) when
    Pillow is absent, keeping the failure mode explicit and testable.
    """
    if not HAS_PIL:
        raise NotImplementedError(
            "decode_real requires Pillow, which is not installed in this "
            "environment — use decode_stub (the tested default) or "
            "install PIL in production"
        )
    import io

    img = _PILImage.open(io.BytesIO(payload)).convert("L")
    img = img.resize((n_features, 1))
    return [px / 255.0 for px in img.getdata()]


def select_decoder() -> "tuple[str, object]":
    """(name, callable) for this environment: ('pil', decode_real) when
    Pillow imported, else ('stub', decode_stub). ``extract_features``
    keeps the STUB as its default regardless — decoding real codecs is
    an explicit opt-in (``decoder=select_decoder()[1]``), because the
    stub accepts any bytes while a real decoder rejects non-media
    payloads, and silently switching behavior on import success would
    make the same pipeline corpus-dependent across environments."""
    return ("pil", decode_real) if HAS_PIL else ("stub", decode_stub)


def attach_binary_payload(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build a media table from the documents fixture: payload = utf-8 bytes
    of the text (stands in for image/audio bytes), modality round-robins.
    """
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            # pmod: Spark's % keeps the dividend's sign, so a negative
            # id would index 0 (error) or -1 (silently the last element)
            (F.pmod(F.col(id_col), F.lit(3)) + 1).cast("int"),
        ).alias("modality"),
        F.lit("raw").alias("format"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def extract_features(
    media: DataFrame, n_features: int = 8, decoder=None
) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads.

    mapInPandas processes whole record batches (not rows); partitioning of
    the input is preserved — at scale, repartition upstream by size so each
    task decodes a bounded byte volume.

    ``decoder``: any ``(bytes, n_features) -> list[float]`` — defaults to
    ``decode_stub`` (deterministic, library-free); pass
    ``select_decoder()[1]`` to opt into the real Pillow path where it is
    installed. The Spark-side plumbing (schema, batch shape,
    partitioning) is identical either way.
    """
    if decoder is None:
        decoder = decode_stub

    # a media row without bytes has nothing to decode: dropped, not
    # crashed on (len(None)/md5(None) inside the Arrow batch otherwise)
    media = media.filter(F.col("payload").isNotNull())

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_digest": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "features": payloads.map(
                        lambda b: decoder(bytes(b), n_features)
                    ),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_media(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Resize stage (stubbed codec): each payload is re-encoded to a
    deterministic ``width*height``-byte pseudo-raster (md5-keyed byte
    stream), tagged with the new dimensions. The real-decoder swap point is
    the body of ``_resize`` only; the Arrow plumbing — binary in, binary
    out, 1:1 rows, partition-preserving — is exactly production shape.
    """
    n_out = width * height
    # same null-payload discipline as extract_features: dropped, not
    # crashed on (bytes(None) in the Arrow worker otherwise)
    media = media.filter(F.col("payload").isNotNull())

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def fake_raster(b: bytes) -> bytes:
                seed = hashlib.md5(b).digest()
                reps = (n_out + len(seed) - 1) // len(seed)
                return (seed * reps)[:n_out]

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "format": "raw_resized",
                    "width": width,
                    "height": height,
                    "payload": pdf["payload"].map(lambda b: fake_raster(bytes(b))),
                }
            )

    return media.mapInPandas(_resize, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def sample_frames(
    media: DataFrame,
    frame_bytes: int = 32,
    every_n: int = 2,
) -> DataFrame:
    """Frame sampling for video payloads: one OUTPUT ROW PER SAMPLED FRAME —
    a cardinality-expanding Arrow stage (mapInPandas may emit more rows than
    it reads; no explode/shuffle needed). The stub treats the payload as a
    concatenation of fixed-size frames and keeps every ``every_n``-th; a real
    build swaps the slicer for a demuxer, same schema and plan.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                n_frames = max(1, len(raw) // frame_bytes)
                for j in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(j)
                    payloads.append(raw[j * frame_bytes : (j + 1) * frame_bytes])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_payload": payloads}
            )

    videos = media.filter(
        (F.col("modality") == "video") & F.col("payload").isNotNull()
    )
    return videos.mapInPandas(_frames, schema=FRAME_SCHEMA)
