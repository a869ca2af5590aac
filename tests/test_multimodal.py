"""Multimodal: REAL codec round-trips (PNG/WAV/MPNG), feature plumbing,
determinism, and the external-codec gate."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def media_df(spark):
    from tsrollup.multimodal import MEDIA_SCHEMA, generate_media

    return spark.createDataFrame(generate_media(11, 60), MEDIA_SCHEMA).cache()


def test_png_roundtrip_all_filters():
    from tsrollup.media_codecs import decode_png, encode_png

    rng = np.random.default_rng(7)
    for h, w, c in ((1, 1, 1), (7, 5, 3), (16, 9, 4), (32, 32, 3), (6, 40, 2)):
        img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        back = decode_png(encode_png(img))  # encoder cycles filters 0..4
        assert back.shape == (h, w, c)
        assert (back == img).all()


def test_wav_roundtrip():
    from tsrollup.media_codecs import decode_wav, encode_wav

    rng = np.random.default_rng(8)
    mono = rng.integers(-2 ** 15, 2 ** 15, 500).astype(np.int16)
    s, sr = decode_wav(encode_wav(mono, 16000))
    assert sr == 16000 and (s[:, 0] == mono).all()
    stereo = rng.integers(-2 ** 15, 2 ** 15, (300, 2)).astype(np.int16)
    s2, sr2 = decode_wav(encode_wav(stereo, 8000))
    assert sr2 == 8000 and (s2 == stereo).all()


def test_mpng_roundtrip():
    from tsrollup.media_codecs import decode_mpng, encode_mpng

    rng = np.random.default_rng(9)
    frames = rng.integers(0, 256, (5, 8, 6, 3), dtype=np.uint8)
    assert (decode_mpng(encode_mpng(frames)) == frames).all()


def test_feature_schema_and_shapes(spark, media_df):
    """Full REAL path: generate_media payloads are genuine PNG/WAV/MPNG bytes
    decoded by decode_media inside the mapInArrow map."""
    from tsrollup.multimodal import THUMB, extract_features

    out = extract_features(media_df).toPandas()
    assert len(out) == 60
    for _, r in out.iterrows():
        c = {"image": 3, "audio": 1, "video": 3}[r["kind"]]
        assert len(r["mean"]) == c and len(r["std"]) == c
        if r["kind"] == "audio":
            assert len(r["thumb"]) == 0
        else:
            assert len(r["thumb"]) == THUMB * THUMB * c
        if r["kind"] == "video":
            assert r["n_frames_sampled"] >= 1


def test_features_deterministic(spark, media_df):
    from tsrollup.multimodal import extract_features

    a = extract_features(media_df).toPandas().sort_values("media_id")
    b = extract_features(media_df.repartition(7)).toPandas() \
        .sort_values("media_id")
    for col in ("mean", "std", "thumb"):
        for x, y in zip(a[col], b[col]):
            assert (np.asarray(x) == np.asarray(y)).all()


def test_decoded_stats_match_source_pixels():
    """decode_media(encode(x)) must reproduce the SOURCE array: features
    computed from the decoded pixels equal features from the originals."""
    from tsrollup.media_codecs import encode_png
    from tsrollup.multimodal import decode_media

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, (20, 15, 3), dtype=np.uint8)
    meta = {"width": 15, "height": 20, "channels": 3, "sample_rate": 0,
            "n_frames": 0, "fmt": "png"}
    arr = decode_media(encode_png(img), meta)
    assert (arr == img).all()


def test_external_codec_formats_are_gated():
    from tsrollup.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff", {"fmt": "jpeg"})


def test_wav_data_chunk_before_fmt():
    """Spec-legal chunk order (data before fmt) decodes identically; a WAV
    missing its fmt chunk fails with a clear parse error, not a reshape
    crash."""
    import struct

    import pytest

    from tsrollup.media_codecs import decode_wav, encode_wav

    rng = np.random.default_rng(3)
    stereo = rng.integers(-2000, 2000, (64, 2)).astype(np.int16)
    std = encode_wav(stereo, 8000)
    # std layout: RIFF(12) | fmt hdr(8)+16 | data hdr(8)+payload — swap chunks
    fmt_chunk, data_chunk = std[12:12 + 24], std[36:]
    swapped = std[:12] + data_chunk + fmt_chunk
    s, sr = decode_wav(swapped)
    assert sr == 8000 and (s == stereo).all()
    no_fmt = std[:12] + data_chunk
    with pytest.raises(ValueError, match="no fmt chunk"):
        decode_wav(no_fmt)
