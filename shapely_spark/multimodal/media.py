"""Multimodal (image/audio/video) column handling.

Media ride as opaque `binary` columns with a typed metadata struct; every
transform is an Arrow-batched mapInPandas whose schema, partitioning and
batch shape are real and tested. `decode_image` reads the uncompressed
formats (binary PPM/PGM, 24/32-bit BMP); every compressed image format
and every real audio payload raises NotImplementedError in the same
dispatcher, so swapping in PIL/ffmpeg changes one function body, not the
pipeline. The deterministic MM01 fake payloads used by the synthetic
tables route to stub decoders.

Schema convention:
  media(url string, kind string, payload binary,
        meta struct<width:int, height:int, sample_rate:int,
                    duration_ms:int, codec:string>)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "url string, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int, codec:string>"
)


def synth_media(spark: SparkSession, n: int = 100) -> DataFrame:
    """Deterministic fake media rows: payload = seeded bytes whose header
    encodes the 'decoded' dimensions (so the stub decoder is total)."""
    df = spark.range(0, n).withColumnRenamed("id", "i")
    i = F.col("i")
    kind = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                        (F.pmod(i, F.lit(3)) + 1).cast("int"))
    w = (F.pmod(i, F.lit(64)) * 16 + 64).cast("int")
    h = (F.pmod(i, F.lit(48)) * 16 + 64).cast("int")
    header = F.concat(F.format_string("MM01:%05d:%05d:", w, h))
    payload = F.encode(F.concat(header, F.repeat(F.lit("x"), (F.pmod(i, F.lit(100)) + 1).cast("int"))), "UTF-8")
    meta = F.struct(
        w.alias("width"), h.alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        (F.pmod(i, F.lit(60000))).cast("int").alias("duration_ms"),
        F.lit("fake/v1").alias("codec"),
    )
    return df.select(
        F.concat(F.lit("media://"), i.cast("string")).alias("url"),
        kind.alias("kind"), payload.alias("payload"), meta.alias("meta"),
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Image decode, pure stdlib+numpy: binary PPM (P6) / PGM (P5) and
    uncompressed 24/32-bit BMP. The synthetic MM01 fake-header payloads
    route to the deterministic stub. Compressed formats (PNG, GIF, JPEG,
    WebP, AVIF/HEIC) raise NotImplementedError — swapping in PIL changes
    this dispatcher only, not the pipeline."""
    b = bytes(payload)
    if b[:5] == b"MM01:":
        return decode_image_stub(b)
    if b[:2] in (b"P6", b"P5"):
        return _decode_pnm(b)
    if b[:2] == b"BM":
        return _decode_bmp(b)
    raise NotImplementedError(
        "compressed image formats need a codec library; supported here: "
        "PPM/PGM/BMP"
    )


def _decode_pnm(b: bytes) -> np.ndarray:
    """Binary PPM (P6, RGB) / PGM (P5, gray) with comment support."""
    pos = 2
    fields = []
    while len(fields) < 3:
        while pos < len(b) and b[pos:pos + 1].isspace():
            pos += 1
        if b[pos:pos + 1] == b"#":
            while pos < len(b) and b[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    if b[:2] == b"P6":
        arr = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
        return arr.reshape(h, w, 3).copy()
    arr = np.frombuffer(b, dtype=np.uint8, count=w * h, offset=pos).reshape(h, w)
    return np.stack([arr, arr, arr], axis=-1)


def _decode_bmp(b: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BITMAPINFOHEADER BMP (the format Windows
    Paint and most screenshot tools emit)."""
    import struct

    data_off = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP compression={comp} bpp={bpp} unsupported")
    flip = h > 0
    h = abs(h)
    nb = bpp // 8
    row_bytes = (w * nb + 3) & ~3
    rows = np.frombuffer(b, dtype=np.uint8, count=row_bytes * h, offset=data_off)
    rows = rows.reshape(h, row_bytes)[:, : w * nb].reshape(h, w, nb)
    rgb = rows[..., 2::-1]  # BGR(A) → RGB
    return (rgb[::-1] if flip else rgb).copy()


def encode_ppm(img: np.ndarray) -> bytes:
    """H×W×3 uint8 → binary PPM bytes (roundtrip fixture for decode_image)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_audio(payload: bytes, sample_rate: int | None = None) -> np.ndarray:
    """Audio decode → float32 mono in [-1, 1]. MM01 fake payloads route to
    the stub; real audio codecs (WAV, FLAC, mp3/aac/opus) raise
    NotImplementedError (need ffmpeg/soundfile)."""
    b = bytes(payload)
    if b[:5] == b"MM01:":
        return decode_audio_stub(b, sample_rate or 16000)
    raise NotImplementedError(
        "audio codecs need ffmpeg/soundfile; only MM01 stub payloads decode"
    )


def decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB decoder: parses the fake header and returns a deterministic
    gradient array of the declared shape. Replace with PIL/turbojpeg in a
    real deployment — the pipeline contract (bytes -> HxWx3 uint8) holds.
    """
    head = bytes(payload[:17]).decode("ascii", errors="replace")
    if not head.startswith("MM01:"):
        raise NotImplementedError(
            "real image decoding not available in this container; payload "
            "is not a fake-media header"
        )
    w = int(head[5:10])
    h = int(head[11:16])
    y, x = np.mgrid[0:h, 0:w]
    img = ((x + y) % 256).astype(np.uint8)
    return np.stack([img, img[::-1], np.roll(img, h // 2, axis=0)], axis=-1)


def image_features(media: DataFrame, out_dim: int = 16) -> DataFrame:
    """bytes → fixed-dim feature vector (here: deterministic histogram of
    the stub-decoded image). Real deployments swap the decode call only.
    Output: (url, feature array<float>, width, height)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, feats, ws, hs = [], [], [], []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                img = decode_image(payload)
                hist, _ = np.histogram(img[..., 0], bins=out_dim, range=(0, 256))
                total = hist.sum() or 1
                urls.append(url)
                feats.append((hist / total).astype(np.float64).tolist())
                hs.append(img.shape[0])
                ws.append(img.shape[1])
            yield pd.DataFrame(
                {"url": urls, "feature": feats,
                 "width": pd.Series(ws, dtype="int32"),
                 "height": pd.Series(hs, dtype="int32")}
            )

    return media.where(F.col("kind") == "image").select("url", "payload").mapInPandas(
        gen, "url string, feature array<double>, width int, height int"
    )


def resize_plan(media: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize *planning* is pure column math (JVM): target dims preserving
    aspect ratio, from the metadata alone."""
    w = F.col("meta.width").cast("double")
    h = F.col("meta.height").cast("double")
    scale = F.least(F.lit(float(max_side)) / w, F.lit(float(max_side)) / h, F.lit(1.0))
    return media.withColumn("target_width", F.round(w * scale).cast("int")).withColumn(
        "target_height", F.round(h * scale).cast("int")
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: explode one row per sampled timestamp
    (JVM sequence/explode — the fan-out shape is what matters at scale)."""
    v = media.where(F.col("kind") == "video")
    ts = F.sequence(F.lit(0), F.col("meta.duration_ms").cast("long"), F.lit(int(every_ms)))
    return v.select("url", F.explode(ts).alias("frame_ms"))


def decode_audio_stub(payload: bytes, sample_rate: int) -> np.ndarray:
    """STUB audio decoder: deterministic waveform derived from the fake
    header (real deployments: ffmpeg/soundfile — contract is bytes →
    float32 mono [-1, 1])."""
    head = bytes(payload[:17]).decode("ascii", errors="replace")
    if not head.startswith("MM01:"):
        raise NotImplementedError(
            "real audio decoding not available in this container"
        )
    seed = int(head[5:10])
    n = max(256, sample_rate // 10)  # 100 ms of samples
    t = np.arange(n, dtype=np.float64)
    return np.sin(2 * np.pi * (seed % 97 + 1) * t / sample_rate).astype(np.float32)


def audio_features(media: DataFrame, n_bands: int = 8) -> DataFrame:
    """bytes → band-energy vector (rFFT magnitude pooled into n_bands).
    Output: (url, feature array<double>, n_samples)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, feats, ns = [], [], []
            for url, payload, meta in zip(pdf["url"], pdf["payload"], pdf["meta"]):
                sr = int(meta["sample_rate"]) if meta is not None else 16000
                wave = decode_audio(payload, sr)
                spec = np.abs(np.fft.rfft(wave.astype(np.float64)))
                bands = np.array_split(spec, n_bands)
                e = np.array([float((b ** 2).sum()) for b in bands])
                tot = e.sum() or 1.0
                urls.append(url)
                feats.append((e / tot).tolist())
                ns.append(len(wave))
            yield pd.DataFrame(
                {"url": urls, "feature": feats, "n_samples": pd.Series(ns, dtype="int32")}
            )

    return media.where(F.col("kind") == "audio").select("url", "payload", "meta").mapInPandas(
        gen, "url string, feature array<double>, n_samples int"
    )
