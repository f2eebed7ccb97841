"""Multimodal column plumbing (SURVEY.md §2B ◆ north-star mandate).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The Spark-side machinery — schemas, batch-shaped Pandas UDFs over
``mapInPandas``, partition sizing — is real and tested; the actual codec
step is STUBBED (image/audio libraries are not in this container): the
default decoder is a deterministic fake that derives pseudo-pixels from the
bytes, and ``decoder="real"`` raises NotImplementedError where a PIL/ffmpeg
call would go.

Scale shape: media rows are large and skew-prone — decode runs in
``mapInPandas`` so Arrow batches stream through a bounded-memory Python
worker, and ``media_repartition`` sizes partitions by BYTES (sum of blob
sizes) rather than row count, which is what keeps a 100-TB media table from
OOMing executors on a handful of 4K-video rows.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

# Blob bytes per partition, and rows per Arrow batch handed to a decoder.
MEDIA_PARTITION_BYTES = 64 * 1024 * 1024
BATCH_ROWS = 64

# Floats per feature vector, milliseconds between sampled video frames, and
# the side of the square image ``resize_images`` outputs.
FEATURE_DIM = 16
FRAME_EVERY_MS = 1000
RESIZED_SIDE = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(blob: bytes) -> list[float]:
    """Deterministic stand-in for decode→feature-extract: derive
    ``FEATURE_DIM`` floats from byte statistics. Stable across runs/machines."""
    if not blob:
        return [0.0] * FEATURE_DIM
    step = max(1, len(blob) // FEATURE_DIM)
    return [blob[min(i * step, len(blob) - 1)] / 255.0 for i in range(FEATURE_DIM)]


# ---------------------------------------------------------------------------
# REAL codecs for the self-contained formats (no external libs needed).
# Compressed formats (JPEG/PNG/MP3/H.264) remain environment-blocked: the
# container has no PIL/ffmpeg — decoder="real" raises for those mimes only.
# ---------------------------------------------------------------------------

PPM_MIME = "image/x-portable-pixmap"
WAV_MIME = "audio/wav"


def _decode_ppm(blob: bytes):
    """Parse a binary P6 PPM into an (h, w, 3) uint8 array — a real image
    decode in ~20 lines because the format IS raw RGB behind a whitespace
    header. Handles comments and arbitrary header whitespace per the spec;
    maxval must fit a byte (the 2-byte-per-sample >255 variant raises)."""
    import numpy as np

    if not blob.startswith(b"P6"):
        raise ValueError("not a binary P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields[0], fields[1], fields[2]
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = w * h * 3
    px = np.frombuffer(blob, dtype=np.uint8, count=need, offset=pos)
    return px.reshape(h, w, 3)


def _decode_wav(blob: bytes):
    """Parse a PCM WAV into an int16 sample array via the stdlib ``wave``
    module — a real audio decode with zero external dependencies."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(blob), "rb") as f:
        if f.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM supported")
        frames = f.readframes(f.getnframes())
    return np.frombuffer(frames, dtype="<i2")


def _real_features(blob: bytes, mime: str) -> list[float]:
    """Decode→feature-extract for the self-contained formats. Every
    feature is either an exact integer or an exact power-of-two ratio
    (sums of ints over 2^k counts), so a SQL oracle can replay the values
    bit-for-bit from the raw bytes; rms is the one sqrt, computed on an
    exact ratio so both engines take sqrt of the identical double."""
    import math

    import numpy as np

    if mime == PPM_MIME:
        px = _decode_ppm(blob).astype(np.int64)
        h, w, _ = px.shape
        n = h * w
        means = [float(px[:, :, c].sum()) / n for c in range(3)]
        mins = [float(px[:, :, c].min()) for c in range(3)]
        maxs = [float(px[:, :, c].max()) for c in range(3)]
        gray = px.sum(axis=2) // 3
        hist = [float((gray // 64 == b).sum()) for b in range(4)]
        out = [float(w), float(h), *means, *mins, *maxs, *hist]
    elif mime == WAV_MIME:
        s = _decode_wav(blob).astype(np.int64)
        n = len(s)
        if n == 0:
            raise ValueError("empty WAV: no frames")
        sum_abs = float(np.abs(s).sum())
        sum_sq = float((s * s).sum())
        zc = float((np.signbit(s[1:]) != np.signbit(s[:-1])).sum()) if n > 1 else 0.0
        out = [
            float(n),
            sum_abs / n,
            math.sqrt(sum_sq / n),
            zc,
            float(s.min()),
            float(s.max()),
        ]
    else:
        raise NotImplementedError(
            f"real decode for mime {mime!r} requires codec libs not present in "
            f"this environment (PPM/WAV decode IS implemented — see _real_features)"
        )
    return (out + [0.0] * FEATURE_DIM)[:FEATURE_DIM]


def media_repartition(df: DataFrame) -> DataFrame:
    """Size the partition COUNT by total bytes (one partition per
    ``MEDIA_PARTITION_BYTES``), then hash-spread rows on media_id —
    uniform in expectation, no extra pass; a couple of large blobs can
    still land together (birthday). (Range-partitioning by blob size
    would do the opposite — co-locate all the biggest blobs in the top
    range.)"""
    total = df.agg(F.sum(F.length("content"))).collect()[0][0] or 0
    n_parts = max(1, int(total / MEDIA_PARTITION_BYTES))
    return df.repartition(n_parts, F.xxhash64("media_id"))


def extract_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """Decode/feature-extract media blobs via ``mapInPandas`` into
    ``FEATURE_DIM``-float vectors.

    ``decoder="fake"`` → deterministic byte-statistics features (testable
    end-to-end). ``decoder="real"`` → an actual decode for the
    self-contained formats (binary P6 PPM via numpy header+frombuffer,
     16-bit PCM WAV via the stdlib ``wave`` module — no external libs),
    dispatched on ``meta.mime``; compressed formats (JPEG/MP3/…) raise
    NotImplementedError there because the container has no PIL/ffmpeg.
    The surrounding Spark plumbing (Arrow batching, schema, partitioning)
    is identical in both modes.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start : start + BATCH_ROWS]
                if decoder == "real":
                    feats = [
                        _real_features(b, m["mime"])
                        for b, m in zip(chunk["content"], chunk["meta"])
                    ]
                else:
                    feats = [_fake_decode(b) for b in chunk["content"]]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "kind": chunk["kind"].values,
                        "n_bytes": [len(b or b"") for b in chunk["content"]],
                        "feature": feats,
                    }
                )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame) -> DataFrame:
    """Video frame-sampling plumbing: explode a per-row frame timeline, one
    frame per ``FRAME_EVERY_MS``, from metadata (duration), ready for a
    per-frame decoder. The decode itself is
    the stubbed step; the explode/partition shape is the real operator."""
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)), F.lit(FRAME_EVERY_MS))
        ).alias("frame_ms"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def resize_images(df: DataFrame, resizer: str = "fake") -> DataFrame:
    """Image resize to ``RESIZED_SIDE`` × ``RESIZED_SIDE`` via
    ``mapInPandas`` (SURVEY.md §2B ◆ multimodal: decode / feature-extract /
    RESIZE / frame-sample).

    ``resizer="fake"``: deterministic nearest-neighbor stride sampling
    treating the blob as a row-major ``meta.width × meta.height`` grayscale
    grid (indices clamped to the blob length, mirroring ``_fake_decode``) —
    out[j][i] = blob[min((j·sh)·W + i·sw, len−1)] with
    sh = max(1, H//RESIZED_SIDE), sw = max(1, W//RESIZED_SIDE). Pure byte
    arithmetic, so an external engine can recompute the resized bytes
    exactly. ``resizer="real"`` ACTUALLY
    resizes binary P6 PPM inputs (numpy decode → integer grayscale
    area-mean pooling, gray=(r+g+b)//3 then block-sum//block-area — all
    exact integer arithmetic, so a SQL oracle replays the output bytes);
    other mimes raise NotImplementedError (no PIL/opencv in the
    container). The Arrow batching, output schema, and partitioning are
    the real operator either way."""
    if resizer not in ("fake", "real"):
        raise ValueError(f"unknown resizer {resizer!r}")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start : start + BATCH_ROWS]
                if resizer == "real":
                    import numpy as np

                    out = []
                    for blob, meta in zip(chunk["content"], chunk["meta"]):
                        if meta["mime"] != PPM_MIME:
                            raise NotImplementedError(
                                f"real resize for mime {meta['mime']!r} needs "
                                f"PIL/opencv (absent); PPM IS implemented"
                            )
                        px = _decode_ppm(blob).astype(np.int64)
                        h, w, _ = px.shape
                        bh, bw = h // RESIZED_SIDE, w // RESIZED_SIDE
                        if bh < 1 or bw < 1:
                            raise ValueError(
                                f"real resizer only downsamples: input "
                                f"{h}x{w} smaller than output {RESIZED_SIDE}x{RESIZED_SIDE}"
                            )
                        gray = px.sum(axis=2) // 3
                        pooled = (
                            gray[: RESIZED_SIDE * bh, : RESIZED_SIDE * bw]
                            .reshape(RESIZED_SIDE, bh, RESIZED_SIDE, bw)
                            .sum(axis=(1, 3))
                            // (bh * bw)
                        )
                        out.append(pooled.astype(np.uint8).tobytes())
                    yield pd.DataFrame(
                        {
                            "media_id": chunk["media_id"].values,
                            "width": RESIZED_SIDE,
                            "height": RESIZED_SIDE,
                            "content": out,
                        }
                    )
                    continue
                out = []
                for blob, meta in zip(chunk["content"], chunk["meta"]):
                    blob = blob or b"\x00"
                    w, h = int(meta["width"]), int(meta["height"])
                    sw, sh = max(1, w // RESIZED_SIDE), max(1, h // RESIZED_SIDE)
                    n = len(blob)
                    out.append(
                        bytes(
                            blob[min(j * sh * w + i * sw, n - 1)]
                            for j in range(RESIZED_SIDE)
                            for i in range(RESIZED_SIDE)
                        )
                    )
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "width": RESIZED_SIDE,
                        "height": RESIZED_SIDE,
                        "content": out,
                    }
                )

    return df.mapInPandas(run, schema=RESIZED_SCHEMA)
