"""Multimodal tests: schema, Arrow batch shapes, deterministic byte-level
features, REAL BMP/PPM/PGM/PNG image decode and PCM-WAV audio decode
(pure-stdlib codecs, end-to-end through mapInPandas), and the explicit
NotImplementedError boundary for formats that genuinely need a codec
library."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from movie_recommendation_etl_spark.operators.multimodal import (
    attach_fake_images,
    attach_fake_media,
    decode_media,
    encode_bmp,
    encode_pgm,
    encode_ppm,
    extract_media_features,
    fake_image_pixels,
)
from movie_recommendation_etl_spark.sources.catalog import load_table


def test_media_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_fake_media(docs)
    feats = extract_media_features(media).collect()
    assert len(feats) == 50
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in feats:
        blob = (texts[r["doc_id"]] * 2).encode()
        assert r["n_bytes"] == len(blob)
        assert r["content_md5"] == hashlib.md5(blob).hexdigest()
        assert len(r["byte_histogram_head"]) == 8
        assert sum(r["byte_histogram_head"]) == min(len(blob), 4096)


def test_media_meta_schema(spark, sf_dir):
    media = attach_fake_media(load_table(spark, sf_dir, "documents").limit(5))
    field = dict(zip(media.schema.names, media.schema.fields))["media_meta"]
    assert [f.name for f in field.dataType.fields] == [
        "media_type",
        "n_bytes",
        "width",
        "height",
    ]
    assert media.schema["media_data"].dataType.typeName() == "binary"


def test_decode_unknown_type_raises():
    """Formats that need a real codec library (JPEG/audio/video) still
    fail loudly — never a silent fake decode."""
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image/jpeg")


def test_byte_features_skip_decode_columns(spark, sf_dir):
    """decode=False keeps the decoded columns NULL (byte-level features
    only) — the honest signal that no decode happened."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    feats = extract_media_features(attach_fake_media(docs)).collect()
    assert all(
        r["width"] is None and r["px_mean"] is None for r in feats
    )


def test_codec_roundtrips():
    """encode -> decode_media restores the exact pixel array for all three
    pure-stdlib codecs (including BMP's padded-stride, bottom-up, BGR
    layout on a non-multiple-of-4 width)."""
    rgb = fake_image_pixels(0)  # (h, w, 3); w=8
    odd = fake_image_pixels(1)  # w=9: exercises BMP row padding
    gray = fake_image_pixels(2)  # (h, w) grayscale

    d = decode_media(encode_bmp(rgb), "image/bmp")
    assert (d["width"], d["height"], d["channels"]) == (8, 6, 3)
    assert np.array_equal(d["pixels"], rgb)

    d = decode_media(encode_bmp(odd), "image/bmp")
    assert np.array_equal(d["pixels"], odd)

    d = decode_media(encode_ppm(rgb), "image/x-portable-pixmap")
    assert np.array_equal(d["pixels"], rgb)

    d = decode_media(encode_pgm(gray), "image/x-portable-graymap")
    assert d["channels"] == 1
    assert np.array_equal(d["pixels"][:, :, 0], gray)


def test_png_roundtrip_all_filters():
    """PNG (r11, pure stdlib zlib): encode with the scanline filter cycling
    0..4 so the decode path proves every unfilter (None/Sub/Up/Average/
    Paeth) — for gray, RGB, and RGBA, on widths that stress the left-pixel
    lane offsets."""
    from movie_recommendation_etl_spark.operators.multimodal import (
        encode_png,
    )

    rng = np.random.default_rng(7)
    for shape in ((6, 8, 3), (7, 9, 4), (11, 5), (1, 1, 3), (5, 1)):
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        d = decode_media(encode_png(px), "image/png")
        want = px if px.ndim == 3 else px[:, :, None]
        assert d["channels"] == want.shape[2]
        assert np.array_equal(d["pixels"], want), shape
        # filter-0-only encoding must agree too
        d0 = decode_media(encode_png(px, cycle_filters=False), "image/png")
        assert np.array_equal(d0["pixels"], want), shape


def test_png_rejects_corruption_and_exotics():
    """crc tamper -> ValueError; palette/16-bit stay at the honest
    NotImplementedError boundary."""
    from movie_recommendation_etl_spark.operators.multimodal import (
        encode_png,
    )

    blob = bytearray(encode_png(fake_image_pixels(0)))
    blob[40] ^= 0xFF  # inside IDAT or IHDR payload -> crc mismatch
    with pytest.raises(ValueError, match="crc|signature|trunc"):
        decode_media(bytes(blob), "image/png")

    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    palette_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    fake = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", palette_ihdr)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="color type"):
        decode_media(fake, "image/png")


def test_pnm_header_comments_and_whitespace():
    gray = fake_image_pixels(2)
    h, w = gray.shape
    blob = b"P5 # a comment\n# another\n %d\t%d\n255\n" % (w, h) + gray.tobytes()
    d = decode_media(blob, "image/x-portable-graymap")
    assert np.array_equal(d["pixels"][:, :, 0], gray)


def test_decode_true_end_to_end(spark, sf_dir):
    """The north-star path: plant real encoded images (BMP/PPM/PGM rotating
    by id), run extract_media_features(decode=True) through mapInPandas,
    and check every decoded dimension and pixel statistic against a local
    numpy recomputation."""
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = attach_fake_images(docs)
    feats = {r["doc_id"]: r for r in
             extract_media_features(media, decode=True).collect()}
    assert len(feats) == 30
    for doc_id, r in feats.items():
        px = fake_image_pixels(doc_id)
        h, w = px.shape[:2]
        assert (r["width"], r["height"]) == (w, h)
        assert r["channels"] == (1 if doc_id % 3 == 2 else 3)
        assert r["px_mean"] == pytest.approx(float(px.mean()))
        assert r["px_min"] == int(px.min())
        assert r["px_max"] == int(px.max())
        # byte-level features coexist with decoded ones
        assert r["content_md5"] is not None and r["n_bytes"] > 0


def test_decode_true_on_opaque_blob_raises(spark, sf_dir):
    """decode=True over a corpus of unknown-type blobs must surface the
    NotImplementedError, not fabricate pixel stats."""
    docs = load_table(spark, sf_dir, "documents").limit(3)
    with pytest.raises(Exception, match="no codec available"):
        extract_media_features(
            attach_fake_media(docs), decode=True
        ).collect()


def test_resize_media_roundtrip(spark, sf_dir):
    """Resize to fixed dims: decoded output must match the pure-numpy
    nearest-neighbor reference exactly."""
    import numpy as np

    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_images,
        decode_media,
        fake_image_pixels,
        resize_media,
        resize_nearest,
    )

    docs = load_table(spark, sf_dir, "documents").limit(12)
    media = attach_fake_images(docs)
    out = {r["doc_id"]: r for r in resize_media(media, 6, 5).collect()}
    assert len(out) == 12
    for doc_id, r in out.items():
        meta = r["media_meta"]
        assert (meta["width"], meta["height"]) == (6, 5)
        decoded = decode_media(bytes(r["media_data"]), meta["media_type"])
        expected = resize_nearest(fake_image_pixels(doc_id), 6, 5)
        got = decoded["pixels"].reshape(expected.shape)
        assert np.array_equal(got, expected)


def test_frame_sampling_end_to_end(spark, sf_dir):
    """Evenly-strided sampling over the raw-pnm container: right frames,
    right count, right pixel stats."""
    import numpy as np

    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_videos,
        fake_image_pixels,
    )
    from movie_recommendation_etl_spark.operators.multimodal import (
        extract_frame_features,
    )

    docs = load_table(spark, sf_dir, "documents").limit(10)
    vids = attach_fake_videos(docs)
    rows = extract_frame_features(vids, n_frames=3).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == 10
    for doc_id, frames in by_doc.items():
        n_total = 2 + int(doc_id) % 8
        assert all(f["n_frames"] == n_total for f in frames)
        assert len(frames) == min(3, n_total)
        idxs = sorted(f["frame_idx"] for f in frames)
        # first and last frame always sampled
        assert idxs[0] == 0 and idxs[-1] == n_total - 1
        for f in frames:
            px = fake_image_pixels(int(doc_id) * 31 + f["frame_idx"])
            assert f["width"] == px.shape[1]
            assert f["height"] == px.shape[0]
            assert abs(f["px_mean"] - float(np.asarray(px).mean())) < 1e-9


def test_custom_id_column_name_and_type_preserved(spark, sf_dir):
    """r6 ADVICE: the output id column must carry the INPUT's name and
    type — a string-typed id named media_key round-trips through feature
    extraction, resize, and frame sampling without rename or Long cast."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_images,
        attach_fake_videos,
        extract_frame_features,
        extract_media_features,
        resize_media,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .limit(6)
        .select(
            F.concat(F.lit("m-"), F.col("doc_id").cast("string")).alias(
                "media_key"
            ),
            "doc_id",
            "text",
        )
    )
    imgs = attach_fake_images(docs, id_col="doc_id").withColumnRenamed(
        "doc_id", "media_key2"
    )
    # string-typed id through feature extraction
    media = attach_fake_images(docs, id_col="doc_id").select(
        F.concat(F.lit("m-"), F.col("doc_id").cast("string")).alias(
            "media_key"
        ),
        "media_data",
        "media_meta",
    )
    feats = extract_media_features(media, id_col="media_key")
    assert feats.schema["media_key"].dataType == T.StringType()
    got = {r["media_key"] for r in feats.collect()}
    assert got == {f"m-{r['doc_id']}" for r in docs.select("doc_id").collect()}

    rs = resize_media(media, 4, 4, id_col="media_key")
    assert rs.schema["media_key"].dataType == T.StringType()
    assert rs.count() == 6

    vids = attach_fake_videos(docs.limit(4), id_col="doc_id").select(
        F.concat(F.lit("v-"), F.col("doc_id").cast("string")).alias(
            "media_key"
        ),
        "media_data",
    )
    fr = extract_frame_features(vids, n_frames=2, id_col="media_key")
    assert fr.schema["media_key"].dataType == T.StringType()
    assert all(r["media_key"].startswith("v-") for r in fr.collect())
    # unused renamed frame kept no stale doc_id expectations
    assert "media_key2" in imgs.columns


def test_decoder_rejects_malformed_headers():
    """Negative/zero dimensions and truncated rasters must raise — a
    crafted header must never decode to a garbage pixel array (frombuffer
    with a negative count reads everything; reshape infers negative
    dims)."""
    import pytest as _pytest

    from movie_recommendation_etl_spark.operators.multimodal import (
        PPM_MEDIA_TYPE,
        _index_pnm_frames,
        decode_media,
    )

    with _pytest.raises(ValueError, match="dimensions"):
        decode_media(b"P6\n2 -1\n255\n" + bytes(12), PPM_MEDIA_TYPE)
    with _pytest.raises(ValueError, match="dimensions"):
        decode_media(b"P6\n0 0\n255\n", PPM_MEDIA_TYPE)
    with _pytest.raises(ValueError, match="truncated netpbm raster"):
        decode_media(b"P6\n4 4\n255\n" + bytes(5), PPM_MEDIA_TYPE)
    with _pytest.raises(ValueError, match="truncated netpbm header"):
        decode_media(b"P6\n4 4", PPM_MEDIA_TYPE)
    # the frame indexer shares the SAME validated parser
    with _pytest.raises(ValueError, match="dimensions"):
        _index_pnm_frames(b"P5\n3 -2\n255\n" + bytes(6))
    with _pytest.raises(ValueError, match="truncated netpbm header"):
        _index_pnm_frames(b"P5\n3")


def test_feature_extraction_null_payload_rows(spark):
    """A dropped-payload row (NULL media_data) yields NULL features with
    the id preserved instead of killing the task."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_audio,
        attach_fake_media,
        attach_fake_videos,
        extract_audio_features,
        extract_frame_features,
        extract_media_features,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    media = attach_fake_media(docs).withColumn(
        "media_data",
        F.when(F.col("doc_id") == 2, F.lit(None)).otherwise(
            F.col("media_data")
        ),
    )
    rows = {
        r["doc_id"]: r
        for r in extract_media_features(media).collect()
    }
    assert rows[1]["content_md5"] is not None
    assert rows[2]["content_md5"] is None
    assert rows[2]["n_bytes"] is None
    assert rows[2]["media_type"] == "fake/blob"  # meta survived

    # the video and audio extractors follow the same policy
    def null_payload(df):
        return df.withColumn(
            "media_data",
            F.when(F.col("doc_id") == 2, F.lit(None)).otherwise(
                F.col("media_data")
            ),
        )

    frames = extract_frame_features(
        null_payload(attach_fake_videos(docs)), n_frames=2
    ).collect()
    assert sorted(r["doc_id"] for r in frames) == [1, 1, 2]
    (dropped,) = [r for r in frames if r["doc_id"] == 2]
    assert all(dropped[k] is None for k in dropped.asDict() if k != "doc_id")
    audio = {
        r["doc_id"]: r
        for r in extract_audio_features(
            null_payload(attach_fake_audio(docs)), decode=True
        ).collect()
    }
    assert audio[1]["rms"] is not None
    assert audio[2]["n_bytes"] is None and audio[2]["rms"] is None
    assert audio[2]["media_type"] == "audio/wav"


def test_resize_null_payload_rows(spark, sf_dir):
    """resize_media mirrors the extract path's dropped-payload policy
    (r8 ADVICE: it called bytes(blob) unguarded): NULL media_data rows
    come back with the id and NULL payload, decodable rows still resize."""
    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_images,
        resize_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(4)
    media = attach_fake_images(docs.select("doc_id", "text")).withColumn(
        "media_data",
        F.when(F.col("doc_id") % 2 == 0, F.lit(None)).otherwise(
            F.col("media_data")
        ),
    )
    rows = {
        r["doc_id"]: r for r in resize_media(media, 4, 3).collect()
    }
    assert len(rows) == 4
    for doc_id, r in rows.items():
        if doc_id % 2 == 0:
            assert r["media_data"] is None and r["media_meta"] is None
        else:
            assert r["media_meta"]["width"] == 4
            assert r["media_meta"]["height"] == 3


def test_id_collision_rejected(spark):
    import pytest as _pytest

    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
    )

    docs = spark.createDataFrame(
        [(1, "alpha")], "width long, text string"
    )
    media = attach_fake_media(docs)
    with _pytest.raises(ValueError, match="collides"):
        extract_media_features(media, id_col="width")


def test_wav_codec_roundtrip():
    """WAV (r11, stdlib wave): encode -> decode_audio restores the exact
    int16 frames, rate, and channel layout for mono and stereo; compressed
    audio types stay at the honest NotImplementedError boundary; a
    non-RIFF blob raises ValueError."""
    import numpy as np

    from movie_recommendation_etl_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
        fake_audio_samples,
    )

    for doc_id in (0, 1, 6, 7):
        s, rate = fake_audio_samples(doc_id)
        d = decode_audio(encode_wav(s, rate), "audio/wav")
        assert d["sample_rate"] == rate
        assert d["channels"] == s.shape[1]
        assert d["n_samples"] == s.shape[0]
        assert np.array_equal(d["samples"], s)

    with pytest.raises(NotImplementedError, match="no audio codec"):
        decode_audio(b"xx", "audio/mpeg")
    with pytest.raises(ValueError, match="not a PCM WAV"):
        decode_audio(b"definitely not riff", "audio/wav")


def test_audio_features_end_to_end(spark, sf_dir):
    """Plant real PCM WAVs, extract features through mapInPandas with
    decode=True, and check every signal statistic against a local numpy
    recomputation — the audio twin of test_decode_true_end_to_end."""
    import numpy as np

    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_audio,
        extract_audio_features,
        fake_audio_samples,
    )

    docs = load_table(spark, sf_dir, "documents").limit(14)
    feats = {
        r["doc_id"]: r
        for r in extract_audio_features(
            attach_fake_audio(docs), decode=True
        ).collect()
    }
    assert len(feats) == 14
    for doc_id, r in feats.items():
        s, rate = fake_audio_samples(doc_id)
        mono = s.astype(np.float64).mean(axis=1)
        assert r["media_type"] == "audio/wav"
        assert r["sample_rate"] == rate
        assert r["channels"] == s.shape[1] == (2 if doc_id % 2 else 1)
        assert r["duration_sec"] == pytest.approx(s.shape[0] / rate)
        assert r["rms"] == pytest.approx(float(np.sqrt((mono**2).mean())))
        assert r["peak"] == int(np.abs(s).max())
        signs = np.signbit(mono)
        assert r["zero_crossing_rate"] == pytest.approx(
            float((signs[1:] != signs[:-1]).mean())
        )
        assert r["content_md5"] is not None and r["n_bytes"] > 44


def test_audio_features_byte_level_only(spark, sf_dir):
    """decode=False: byte features real, every signal column NULL — the
    same honest no-decode signal as the image path."""
    from movie_recommendation_etl_spark.operators.multimodal import (
        attach_fake_audio,
        extract_audio_features,
    )

    docs = load_table(spark, sf_dir, "documents").limit(4)
    rows = extract_audio_features(attach_fake_audio(docs)).collect()
    assert len(rows) == 4
    assert all(
        r["rms"] is None and r["sample_rate"] is None and r["n_bytes"] > 0
        for r in rows
    )
