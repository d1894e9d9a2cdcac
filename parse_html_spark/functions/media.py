"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, partitioning,
fan-out) is real and tested. The codec layer is REAL for every format
decodable with stdlib + numpy -- PNG (zlib + unfiltering), PPM, 16-bit
PCM WAV (functions/codecs.py), JPEG in sequential AND progressive
DCT modes (functions/jpeg.py), and GIF87a/89a incl. LZW,
interlace and transparency (functions/gif.py) -- including real
nearest-neighbor resizing and real pixel/sample statistics features.
WebP/AVIF (sniffed distinctly) and MP4/video raise NotImplementedError
at the documented plug point when fake=False (those genuinely need
libwebp/libavif/ffmpeg).

fake=True keeps the deterministic crc32-derived stand-in for every
format, so pipelines and tests run end-to-end on arbitrary payloads.
"""

from __future__ import annotations

import zlib

from ..session import _batch_map, _on_error_columns

# the codecs guarantee a single-type error contract (decode_jpeg /
# decode_png / decode_ppm / decode_wav wrap their raw error surfaces
# into ValueError -- fuzz-pinned in test_codecs/test_jpeg), so flag
# mode only needs ValueError plus the external-plug NotImplementedError;
# anything else escaping a codec is a bug the fuzz contract should
# surface, not silently flag
_DECODE_ERRORS = (NotImplementedError, ValueError)

FEATURE_SCHEMA = (
    "media_ref string, media_type string, n_bytes long, checksum long, "
    "feature array<float>"
)


def attach_payload(df, ref_col: str = "media_ref"):
    """Deterministic fake payload bytes for a media_ref (stand-in for an
    object-store fetch; at scale this is a mapInArrow ranged GET)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "payload", F.encode(F.concat(F.lit("payload:"), F.col(ref_col)), "utf-8")
    )


RESIZE_SCHEMA = "media_ref string, width int, height int, payload binary"
FRAME_SCHEMA = "media_ref string, frame_idx int, ts_ms int, payload binary"


def _decode_image(data: bytes):
    """Real decode for stdlib-decodable images; NotImplementedError at
    the external-decoder plug point otherwise."""
    from . import codecs

    kind = codecs.sniff(data)
    if kind == "png":
        return codecs.decode_png(data)
    if kind == "ppm":
        return codecs.decode_ppm(data)
    if kind == "jpeg":
        from .jpeg import decode_jpeg

        return decode_jpeg(data)  # sequential or progressive DCT (pure numpy)
    if kind == "gif":
        from .gif import decode_gif

        return decode_gif(data)  # GIF87a/89a, first frame (pure numpy)
    raise NotImplementedError(
        f"decoding {kind!r} requires an external library (PIL/ffmpeg); "
        "PNG/PPM/JPEG/GIF decode here is real (functions/codecs.py, "
        "functions/jpeg.py, functions/gif.py)"
    )


def _payload_size(part) -> int:
    return sum(len(p) for p in part["payload"])


def resize_images(df, width: int, height: int, fake: bool = True):
    """mapInArrow resize over (media_ref, payload).

    fake=False does REAL work for PNG/PPM/JPEG/GIF payloads:
    decode, exact nearest-neighbor resample, re-encode as PNG.
    fake=True emits a deterministic payload derived from the input bytes
    + target size (any format). Batch shape and schema are identical in
    both modes. width and height must be > 0 (ValueError on the driver
    otherwise)."""
    for name, value in (("width", width), ("height", height)):
        if value <= 0:
            raise ValueError(f"{name} must be > 0: {value!r}")

    def row(_ref, payload):
        from . import codecs

        data = payload or b""
        if fake:
            crc = zlib.crc32(data) & 0xFFFFFFFF
            out = f"resized:{width}x{height}:{crc:08x}".encode("ascii")
        else:
            arr = _decode_image(data)
            out = codecs.encode_png(codecs.resize_nearest(arr, width, height))
        return {"width": [width], "height": [height], "payload": [out]}

    return _batch_map(
        df, row, RESIZE_SCHEMA, ("media_ref", "payload"),
        key="media_ref", size=_payload_size,
    )


def sample_frames(df, every_ms: int = 1000, duration_ms: int = 5000, fake: bool = True):
    """Frame sampling for video payloads: one output row per sampled
    frame (fan-out inside mapInArrow), at 0, every_ms, ... below
    duration_ms. every_ms must be > 0 and duration_ms >= 0 (ValueError
    on the driver otherwise). The frame schedule and row explosion are
    real; video container decode genuinely requires ffmpeg, so
    fake=False raises at the plug point (no stdlib-decodable video
    format exists to make this path real in-sandbox)."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be > 0: {every_ms!r}")
    if duration_ms < 0:
        raise ValueError(f"duration_ms must be >= 0: {duration_ms!r}")
    stamps = range(0, duration_ms, every_ms)

    def row(_ref, payload):
        if not fake:
            raise NotImplementedError(
                "video decode requires ffmpeg; not available here"
            )
        crc = zlib.crc32(payload or b"") & 0xFFFFFFFF
        return {
            "frame_idx": range(len(stamps)),
            "ts_ms": stamps,
            "payload": [
                f"frame:{k}:{crc:08x}".encode("ascii")
                for k in range(len(stamps))
            ],
        }

    return _batch_map(
        df, row, FRAME_SCHEMA, ("media_ref", "payload"),
        key="media_ref", size=_payload_size,
    )


def extract_media_features(
    df, fake: bool = True, dim: int = 8, on_error: str = "raise"
):
    """mapInArrow over (media_ref, payload:binary) -> FEATURE_SCHEMA.

    fake=False computes REAL features for stdlib-decodable payloads:
    per-channel mean/std + luminance histogram for PNG/PPM/JPEG
    (sequential and progressive DCT)/GIF images, RMS/zero-crossing/
    duration/band-energy for 16-bit PCM WAV audio (functions/codecs.py,
    functions/jpeg.py, functions/gif.py).
    fake=True emits deterministic crc32-seeded features for any bytes.

    on_error='raise' (default) propagates undecodable payloads
    (video containers, malformed bytes) and fails the task.
    on_error='flag' degrades GRACEFULLY for mixed real-crawl
    corpora: undecodable rows get feature=NULL and the output gains a
    ``status`` column ('ok' or 'undecodable:<kind>:<reason>') -- a
    groupBy(status) gives the corpus decode-failure census without
    losing the partition. dim must be >= 1 (ValueError on the driver
    otherwise)."""
    import numpy as np

    if dim < 1:
        raise ValueError(f"dim must be >= 1: {dim!r}")
    suffix = _on_error_columns(on_error, "status string")
    flag = bool(suffix)

    def row(ref, payload):
        from . import codecs

        data = payload or b""
        crc = zlib.crc32(data) & 0xFFFFFFFF
        status = "ok"
        if fake:
            rng = np.random.RandomState(crc % (2**31))
            mtype = "image" if "img" in (ref or "") else "embed"
            feat = rng.rand(dim).astype("float32").tolist()
        else:
            kind = codecs.sniff(data)
            try:
                if kind in ("png", "ppm", "jpeg", "gif"):
                    mtype = "image"
                    feat = codecs.image_features(_decode_image(data), dim)
                elif kind == "wav":
                    mtype = "audio"
                    feat = codecs.audio_features(
                        *codecs.decode_wav(data), dim=dim
                    )
                else:
                    # webp/avif sniff distinctly, so their census
                    # bucket names the format needing the external
                    # decoder, not 'unknown'
                    raise NotImplementedError(
                        f"decoding {kind!r} requires PIL/ffmpeg; "
                        "PNG/PPM/JPEG/GIF/WAV features here are real"
                    )
            except _DECODE_ERRORS as exc:
                if not flag:
                    raise
                mtype = "unknown"
                feat = None
                status = (
                    f"undecodable:{kind}:"
                    f"{type(exc).__name__}:{str(exc)[:120]}"
                )
        out = {
            "media_type": [mtype],
            "n_bytes": [len(data)],
            "checksum": [crc],
            "feature": [feat],
        }
        if flag:
            out["status"] = [status]
        return out

    return _batch_map(
        df, row, FEATURE_SCHEMA + suffix, ("media_ref", "payload"),
        key="media_ref",
    )


def media_decode_census(df):
    """Roll extract_media_features(on_error='flag') output into the
    corpus decode census a crawl operator reads in one call: one row
    per failure MODE -- (status_class, n_payloads, total_bytes),
    ordered by byte volume. 'ok' stays 'ok'; failures bucket to
    'undecodable:<kind>' (the per-payload exception detail after the
    second ':' is variable and would shatter the groupBy). Pure
    Column expressions: the rollup is a partial-aggregated groupBy on
    a tiny status domain, nothing leaves the JVM."""
    from pyspark.sql import functions as F

    status_class = F.concat_ws(
        ":", F.slice(F.split(F.col("status"), ":"), 1, 2)
    )
    return (
        df.groupBy(status_class.alias("status_class"))
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .orderBy(F.desc("total_bytes"), "status_class")
    )
