"""Multimodal plumbing tests: schema, batch shape, stubbed decode, plans."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from shapely_spark.multimodal.media import (
    decode_image_stub,
    frame_sample_plan,
    image_features,
    resize_plan,
    synth_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, 90).cache()


def test_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    assert media.count() == 90
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_stub_decoder_deterministic(media):
    row = media.where(F.col("kind") == "image").first()
    a = decode_image_stub(bytes(row.payload))
    b = decode_image_stub(bytes(row.payload))
    assert a.shape == (row.meta.height, row.meta.width, 3)
    assert np.array_equal(a, b)


def test_stub_decoder_rejects_real_bytes():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x89PNG\r\n\x1a\n....")


def test_image_features(media):
    feats = image_features(media, out_dim=16).collect()
    assert len(feats) == media.where(F.col("kind") == "image").count()
    for r in feats:
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-9
        assert r.width > 0 and r.height > 0


def test_resize_plan_aspect(media):
    out = resize_plan(media, max_side=224).collect()
    for r in out:
        assert max(r.target_width, r.target_height) <= 224
        # aspect preserved within rounding
        orig = r.meta.width / r.meta.height
        new = r.target_width / r.target_height
        assert abs(orig - new) / orig < 0.05


def test_frame_sample_plan(media):
    out = frame_sample_plan(media, every_ms=1000)
    n_videos = media.where(F.col("kind") == "video").count()
    assert out.select("url").distinct().count() == n_videos
    g = out.groupBy("url").agg(F.count("*").alias("n"), F.max("frame_ms").alias("mx")).first()
    assert g.n >= 1 and g.mx % 1000 == 0


def test_audio_features_deterministic(spark):
    from shapely_spark.multimodal.media import audio_features, synth_media

    m = synth_media(spark, 60)
    f1 = {r.url: tuple(round(x, 9) for x in r.feature)
          for r in audio_features(m).collect()}
    f2 = {r.url: tuple(round(x, 9) for x in r.feature)
          for r in audio_features(m).collect()}
    assert f1 == f2 and len(f1) == 20  # every third row is audio
    for v in f1.values():
        assert abs(sum(v) - 1.0) < 1e-6  # normalized band energies (rounded at 9dp)


class TestRealCodecs:
    """Pure stdlib+numpy decoders: PPM/PGM/BMP images — the decode step
    is real for uncompressed formats, not a stub."""

    def test_ppm_roundtrip(self):
        import numpy as np
        from shapely_spark.multimodal.media import decode_image, encode_ppm
        rng = np.random.RandomState(5)
        img = rng.randint(0, 256, size=(17, 23, 3), dtype=np.uint8)
        out = decode_image(encode_ppm(img))
        assert out.shape == img.shape and (out == img).all()

    def test_pgm_gray_to_rgb(self):
        import numpy as np
        from shapely_spark.multimodal.media import decode_image
        gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
        payload = b"P5\n# comment\n4 3\n255\n" + gray.tobytes()
        out = decode_image(payload)
        assert out.shape == (3, 4, 3) and (out[..., 0] == gray).all()

    def test_bmp_24bit_bottom_up(self):
        import struct
        import numpy as np
        from shapely_spark.multimodal.media import decode_image
        w, h = 3, 2
        img = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
        row_bytes = (w * 3 + 3) & ~3
        pix = bytearray()
        for r in range(h - 1, -1, -1):  # bottom-up
            row = bytearray()
            for c in range(w):
                rr, gg, bb = img[r, c]
                row += bytes([bb, gg, rr])  # BGR
            row += b"\x00" * (row_bytes - len(row))
            pix += row
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
        filehdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40)
        out = decode_image(filehdr + info + bytes(pix))
        assert out.shape == (h, w, 3) and (out == img).all()

    def test_codec_library_formats_raise(self):
        import pytest
        from shapely_spark.multimodal.media import decode_audio, decode_image
        with pytest.raises(NotImplementedError):
            decode_image(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")
        with pytest.raises(NotImplementedError):
            decode_audio(b"ID3\x04...mp3 frames")

    def test_image_features_on_real_ppm(self, spark):
        import numpy as np
        import pandas as pd
        from shapely_spark.multimodal.media import encode_ppm, image_features
        rng = np.random.RandomState(9)
        rows = [("ppm://%d" % i, "image",
                 encode_ppm(rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)))
                for i in range(10)]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "kind", "payload"]),
                                   "url string, kind string, payload binary")
        out = image_features(df).collect()
        assert len(out) == 10
        assert all(abs(sum(r.feature) - 1.0) < 1e-9 for r in out)
        assert all(r.width == 8 and r.height == 8 for r in out)
