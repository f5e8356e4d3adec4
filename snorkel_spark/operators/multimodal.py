"""Multimodal span plumbing: media spans as opaque binary + typed
metadata, decode/feature-extract as Arrow-batched UDFs.

The container has no image/audio codec libraries, so compressed formats
(JPEG/PNG/audio/video) remain a clearly-marked stub — but the decode
path has one REAL codepath: pure-NumPy decoders for uncompressed
24-bit BMP and binary PPM (P6), both trivial container formats whose
spec is a header + raw pixel rows.  ``decode_images`` routes by magic
bytes (``BM``/``P6`` → real decode; anything else → the honest
NotImplementedError a cluster codec build would replace), so the full
Spark-side contract — binary column through Arrow batches, per-image
typed stats out, error routing — is exercised end-to-end on real pixel
data.  Encoders (``encode_bmp``/``encode_ppm``) exist for fixtures.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature", IntegerType()),
    ]
)


def media_spans(raw: DataFrame) -> DataFrame:
    """Project media spans to (doc_id, media_ref, kind, caption)."""
    return (
        raw.select("doc_id", F.explode("spans").alias("s"))
        .filter("s.kind != 'text'")
        .select(
            "doc_id",
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("caption"),
        )
    )


def fetch_payloads(media: DataFrame) -> DataFrame:
    """Materialize the opaque binary column.  In production this reads
    object storage by media_ref; offline the payload is the caption's
    bytes (deterministic stand-in) — the *plumbing* (binary column
    through Arrow batches, partition-parallel) is the real thing."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["caption"].str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "payload": payload,
                    "n_bytes": payload.str.len().astype("int32"),
                }
            )

    return media.mapInPandas(fetch, MEDIA_SCHEMA)


# ---- real image decode: uncompressed 24-bit BMP + binary PPM (P6) ----
#
# Both formats are header + raw RGB rows, decodable with frombuffer +
# reshape — no codec library needed.  This is the one real decode
# path; compressed formats raise in ``decode_media``.


def encode_bmp(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    BMP (BITMAPINFOHEADER, bottom-up rows, BGR byte order, rows padded
    to 4 bytes) — the fixture-side twin of ``_decode_bmp``."""
    import struct

    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    row = w * 3
    pad = (-row) % 4
    # bottom-up rows, RGB→BGR, zero-pad each row to a 4-byte boundary
    body = np.zeros((h, row + pad), dtype=np.uint8)
    body[:, :row] = arr[::-1, :, ::-1].reshape(h, row)
    pixels = body.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels),
                       2835, 2835, 0, 0)
    return header + info + pixels


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP to an (h, w, 3) uint8 RGB
    array.  Supports the common BITMAPINFOHEADER layout; anything
    compressed or non-24-bit raises NotImplementedError (honest: that
    would need a real codec)."""
    import struct

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is decodable without codecs "
            f"(got bpp={bpp}, compression={comp})"
        )
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, np.uint8, count=h * stride, offset=off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    return img[::-1] if flip else img


def encode_ppm(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Decode binary PPM (P6, maxval ≤ 255) to (h, w, 3) uint8 RGB.
    Header = magic + whitespace/comment-separated width height maxval,
    then ONE whitespace byte, then raw RGB rows."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    return np.frombuffer(payload, np.uint8, count=h * w * 3, offset=pos).reshape(h, w, 3)


def decode_media(payload: bytes) -> tuple:
    """Route a binary payload to a real decoder by magic bytes.
    Returns (format, (h, w, 3) uint8 array).  Compressed formats raise
    NotImplementedError — the line a codec-equipped cluster build
    replaces."""
    if payload[:2] == b"BM":
        return "bmp", _decode_bmp(payload)
    if payload[:2] == b"P6":
        return "ppm", _decode_ppm(payload)
    raise NotImplementedError(
        "no codec for this payload offline (JPEG/PNG/audio/video need "
        "image/audio libraries not present in this container); "
        "uncompressed BMP and binary PPM decode natively"
    )


def synthesize_images(docs: DataFrame, n: int = 200) -> DataFrame:
    """Deterministic image fixture: for the first ``n`` doc_ids (sorted),
    derive a solid RGB color + dimensions + container format from
    ``md5(doc_id)`` hex pairs (engine-portable — any SQL engine can
    recompute them), then REALLY encode each as BMP or PPM bytes.
    Solid color makes every decoded statistic analytically predictable,
    so the full encode→decode path gets an exact cross-engine oracle."""

    def hexpair(i: int):
        return F.conv(F.substring("hx", i, 2), 16, 10).cast("int")

    base = (
        docs.select("doc_id")
        .orderBy("doc_id")
        .limit(n)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
        .withColumn("hx", F.md5("doc_id"))
        .select(
            "doc_id",
            F.concat(F.lit("media://img/"), F.col("doc_id")).alias("media_ref"),
            hexpair(1).alias("r"),
            hexpair(3).alias("g"),
            hexpair(5).alias("b"),
            (F.lit(2) + hexpair(7) % 5).alias("w"),
            (F.lit(2) + hexpair(9) % 4).alias("h"),
            F.when(hexpair(5) % 2 == 0, F.lit("bmp")).otherwise(F.lit("ppm")).alias("fmt"),
        )
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for r, g, b, w, h, fmt in zip(
                pdf["r"], pdf["g"], pdf["b"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                img = np.full((h, w, 3), (r, g, b), dtype=np.uint8)
                payloads.append(encode_bmp(img) if fmt == "bmp" else encode_ppm(img))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "kind": "image",
                    "payload": payloads,
                    "n_bytes": pd.Series([len(p) for p in payloads], dtype="int32"),
                }
            )

    return base.mapInPandas(enc, MEDIA_SCHEMA)


IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", IntegerType()),
        StructField("mean_g", IntegerType()),
        StructField("mean_b", IntegerType()),
    ]
)


def decode_images(media_with_payload: DataFrame, on_error: str = "skip") -> DataFrame:
    """Arrow-batched REAL image decode: per image, dimensions + per-
    channel integer mean (scaled ×1000, floor — exact in any engine).
    Undecodable payloads are skipped (``on_error='skip'``, the 100 TB
    default: a poison byte string must never kill the job) or re-raised
    (``'raise'``, for tests).  Per-image NumPy, never per-pixel Python;
    decode parallelism comes from partitioning, the right axis when
    images are ~KB–MB and the corpus is billions of rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "media_ref", "format", "width",
                                   "height", "mean_r", "mean_g", "mean_b")}
            for doc_id, ref, payload in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["payload"]
            ):
                try:
                    fmt, img = decode_media(bytes(payload))
                except (NotImplementedError, ValueError, IndexError):
                    if on_error == "raise":
                        raise
                    continue
                means = img.reshape(-1, 3).mean(axis=0) if img.size else np.zeros(3)
                out["doc_id"].append(doc_id)
                out["media_ref"].append(ref)
                out["format"].append(fmt)
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["mean_r"].append(int(means[0] * 1000))
                out["mean_g"].append(int(means[1] * 1000))
                out["mean_b"].append(int(means[2] * 1000))
            yield pd.DataFrame(out)

    return media_with_payload.mapInPandas(run, IMAGE_SCHEMA)


def _flat_buffer(payloads: pd.Series):
    """Concatenate a bytes Series into one uint8 buffer + per-row start
    offsets/lengths — the NumPy view every vectorized kernel below works
    on (no per-element Python past the single ``join``)."""
    lens = payloads.str.len().to_numpy(dtype=np.int64)
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1])) if len(lens) else np.zeros(0, np.int64)
    return buf, starts, lens


def _byte_sums(payloads: pd.Series) -> np.ndarray:
    """Vectorized per-row byte sums: one reduceat over the flat buffer
    (zero-length rows handled: a zero-length segment spans no bytes, so
    consecutive non-empty starts stay contiguous)."""
    buf, starts, lens = _flat_buffer(payloads)
    sums = np.zeros(len(lens), dtype=np.int64)
    nz = lens > 0
    if nz.any():
        sums[nz] = np.add.reduceat(buf, starts[nz])
    return sums


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_feature", IntegerType()),
    ]
)


def frame_sample(
    media_with_payload: DataFrame, stride: int = 4, frame_bytes: int = 8
) -> DataFrame:
    """Frame sampling plumbing: one media row fans out to one row per
    sampled frame (the video path's shape).  Decode-free deterministic
    stand-in: a 'frame' is the byte window payload[start:start+
    frame_bytes] at every ``stride`` offset, its feature the byte-sum
    mod 997 — swap the window slicing for a real codec's keyframe
    iterator on a cluster with codecs.  Arrow-batched ``mapInPandas``;
    the fan-out happens inside the batch, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            buf, row_starts, lens = _flat_buffer(pdf["payload"])
            n_frames = -(-lens // stride)  # ceil; 0 frames for empty rows
            total = int(n_frames.sum())
            if total == 0:
                continue
            # fan-out indices, all vectorized: which row each frame
            # belongs to, and its index within that row
            row_idx = np.repeat(np.arange(len(lens)), n_frames)
            frame_off = np.concatenate(([0], np.cumsum(n_frames)[:-1]))
            frame_idx = np.arange(total) - np.repeat(frame_off, n_frames)
            # absolute [start, end) byte windows (frames may overlap
            # when frame_bytes > stride), clipped to the row
            w_start = row_starts[row_idx] + frame_idx * stride
            w_end = np.minimum(w_start + frame_bytes, row_starts[row_idx] + lens[row_idx])
            # one reduceat over interleaved start/end boundaries sums
            # every window; pad one byte so end == len(buf) is a valid
            # boundary (windows are never empty: start < row end)
            bounds = np.empty(total * 2, dtype=np.int64)
            bounds[0::2], bounds[1::2] = w_start, w_end
            padded = np.concatenate([buf, np.zeros(1, np.int64)])
            feats = np.add.reduceat(padded, bounds)[0::2] % 997
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[row_idx],
                    "media_ref": pdf["media_ref"].to_numpy()[row_idx],
                    "kind": pdf["kind"].to_numpy()[row_idx],
                    "frame_idx": frame_idx.astype("int32"),
                    "frame_feature": feats.astype("int32"),
                }
            )

    return media_with_payload.mapInPandas(run, FRAME_SCHEMA)


def resize_stub(media_with_payload: DataFrame, max_bytes: int = 16) -> DataFrame:
    """'Resize' plumbing: truncate the payload to ``max_bytes`` (the
    deterministic stand-in for a real resample) and emit the typed size
    metadata a real resize would — same schema contract either way."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf["payload"].str.slice(0, max_bytes)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "payload": resized,
                    "n_bytes": resized.str.len().astype("int32"),
                }
            )

    return media_with_payload.mapInPandas(run, MEDIA_SCHEMA)


def extract_features(media_with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the raw payload bytes: the
    feature is a deterministic byte-sum mod 997 stand-in (real decoding
    is ``decode_images`` / ``decode_media``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _byte_sums(pdf["payload"]) % 997
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"].astype("int32"),
                    "feature": pd.Series(feats, index=pdf.index, dtype="int32"),
                }
            )

    return media_with_payload.mapInPandas(run, FEATURE_SCHEMA)
