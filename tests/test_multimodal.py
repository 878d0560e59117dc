"""Multimodal: real BMP/PPM/WAV codecs + Spark plumbing.

Image (BMP/PPM), audio (WAV) and video (AVI: BI_RGB 24-bit + BI_RLE8
8-bit palette) decode are REAL — pinned by byte-exact encode→decode
roundtrips below, plus a hand-built raster covering the RLE8 escape
modes our encoder never emits. The Spark-side tests pin schemas,
per-kind filtering, run-to-run determinism across partitionings, and
that a payload the oracle rejects makes the operator raise.
"""

from __future__ import annotations

import numpy as np

from ocr_image_to_text_spark import multimodal as mm


def test_bmp_roundtrip():
    for w, h in [(1, 1), (3, 2), (32, 48), (33, 7)]:  # incl. row padding
        img = mm.synthetic_image(b"seed", w, h)
        assert (mm.decode_bmp(mm.encode_bmp(img)) == img).all()


def test_ppm_roundtrip_and_comments():
    img = mm.synthetic_image(b"x", 17, 9)
    assert (mm.decode_ppm(mm.encode_ppm(img)) == img).all()
    # header with a comment line (netpbm spec)
    with_comment = b"P6\n# a comment\n17 9\n255\n" + img.tobytes()
    assert (mm.decode_ppm(with_comment) == img).all()


def test_wav_roundtrip():
    pcm = np.sin(np.linspace(0, 40, 4000)).astype(np.float32) * 0.7
    out = mm.decode_audio_i16(mm.encode_wav(pcm, rate=8000))
    assert out.shape == pcm.shape
    # 16-bit quantization only
    assert np.abs(out / 32767.0 - pcm).max() < 1.0 / 32000


def test_image_features_schema_and_determinism(spark):
    media = mm.synthetic_media(spark, n=30)
    f1 = mm.image_features(media, partitions=4).orderBy("media_id").collect()
    f2 = mm.image_features(media.repartition(7), partitions=2) \
        .orderBy("media_id").collect()
    assert [r.asDict() for r in f1] == [r.asDict() for r in f2]
    assert len(f1) == 10  # n/3 images
    r = f1[0]
    assert set(r.asDict()) == {"media_id", "width", "height", "mean_r",
                               "mean_g", "mean_b", "phash"}
    assert 0.0 <= r.mean_r <= 255.0
    assert isinstance(r.phash, int)


def test_avi_roundtrip_exact():
    """encode_avi → decode_avi is the identity on frames and timing,
    including non-multiple-of-4 row strides (odd widths)."""
    import numpy as np

    for w, h in ((32, 16), (33, 21), (10, 9)):
        frames = [mm.synthetic_image(bytes([i, w]) * 8, w, h) for i in range(4)]
        payload = mm.encode_avi(frames, fps=4)
        dec, usec = mm.decode_avi(payload)
        assert usec == 250_000 and len(dec) == 4
        for a, b in zip(frames, dec):
            assert np.array_equal(a, b)


def test_avi_stdlib_twin_agrees():
    """mmref.decode_avi_py (stdlib loops) equals the numpy decoder, and
    the per-frame features match bit-for-bit."""
    from ocr_image_to_text_spark import mmref

    frames = [mm.synthetic_image(bytes([i]) * 16, 33, 21) for i in range(3)]
    payload = mm.encode_avi(frames, fps=4)
    pf, w, h, usec = mmref.decode_avi_py(payload)
    assert (w, h, usec) == (33, 21, 250_000) and len(pf) == 3
    for i, img in enumerate(frames):
        assert pf[i] == [[tuple(px) for px in row] for row in img]
        mr, mg, mb, ph = mm._frame_features(img)
        f = mmref._frame_features_py(pf[i], w, h)
        assert (mr, mg, mb, ph) == (f["mean_r"], f["mean_g"], f["mean_b"],
                                    f["phash"])


def test_video_frame_features_real_decode(spark):
    """video_frame_features decodes the synthetic AVI payloads: one row
    per container frame, timing from the container, features equal to
    the stdlib twin."""
    from ocr_image_to_text_spark import mmref

    media = mm.synthetic_media(spark, n=12)
    got = {(r.media_id, r.frame_idx): r
           for r in mm.video_frame_features(media).collect()}
    vids = [r for r in mm.synthetic_media_rows(12) if r[1] == "video"]
    assert len(vids) > 0
    n_rows = 0
    codecs = {codec for _, _, _, (_w, _h, _d, codec) in vids}
    assert codecs == {"avi", "avi-rle8"}  # both container variants exercised
    for mid, _kind, payload, (_w, _h, dur, codec) in vids:
        feats = mmref.video_frame_features_py(bytes(payload))
        assert len(feats) == max(dur * 4 // 1000, 1)
        for f in feats:
            r = got[(mid, f["frame_idx"])]
            assert r.ts_ms == f["ts_ms"]
            assert (r.mean_r, r.mean_g, r.mean_b, r.phash) == (
                f["mean_r"], f["mean_g"], f["mean_b"], f["phash"])
            n_rows += 1
    assert n_rows == len(got)


def test_audio_features(spark):
    media = mm.synthetic_media(spark, n=30)
    out = mm.audio_features(media).collect()
    assert len(out) == 10
    for r in out:
        assert 0.0 < r.rms < 1.0
        assert r.zero_cross > 0


def test_avi_rle8_roundtrip_exact():
    """encode_avi_rle8 → decode_avi is the identity through the gray
    palette (index v → (v,v,v)), including odd widths where runs cross
    no word boundary cleanly."""
    import numpy as np

    for w, h in ((32, 16), (33, 21), (10, 9)):
        idx = [mm.synthetic_indexed_frame(bytes([i, w]) * 8, w, h)
               for i in range(4)]
        payload = mm.encode_avi_rle8(idx, fps=4)
        dec, usec = mm.decode_avi(payload)
        assert usec == 250_000 and len(dec) == 4
        for a, b in zip(idx, dec):
            expect = np.stack([a, a, a], axis=-1)
            assert np.array_equal(expect, b)


def test_rle8_escape_modes_decode():
    """Hand-built raster exercising absolute mode, delta and early EOB —
    the escapes our encoder never emits but the spec allows."""
    import numpy as np

    # 4x3 frame, bottom-up: row y=2 via absolute mode (3 literals + pad),
    # then EOL; row y=1 starts, delta skips to y=0; run fills y=0.
    raster = bytes([
        0, 3, 7, 8, 9, 0,      # absolute: 3 literals, word pad
        1, 5,                  # run: one more pixel (x=3) value 5
        0, 0,                  # EOL -> y=1
        0, 2, 1, 1,            # delta dx=1 dy=1 -> x=1, y=0
        3, 2,                  # run of 3 value 2 at y=0
        0, 1,                  # EOB
    ])
    img = mm._rle8_undo(raster, 4, 3, mm.GRAY_PALETTE)
    idx = img[:, :, 0]  # gray palette: r == index
    assert idx.tolist() == [
        [0, 2, 2, 2],   # y=0 (delta skipped x=0)
        [0, 0, 0, 0],   # y=1 never written
        [7, 8, 9, 5],   # y=2 (bottom row)
    ]
    # stdlib twin agrees exactly
    from ocr_image_to_text_spark import mmref

    rows = mmref._rle8_rows_py(raster, 4, 3, mm.GRAY_PALETTE)
    assert rows == [[tuple(px) for px in row] for row in img]


def test_avi_rle8_stdlib_twin_agrees():
    from ocr_image_to_text_spark import mmref

    idx = [mm.synthetic_indexed_frame(bytes([i]) * 16, 33, 21)
           for i in range(3)]
    payload = mm.encode_avi_rle8(idx, fps=4)
    pf, w, h, usec = mmref.decode_avi_py(payload)
    dec, _ = mm.decode_avi(payload)
    assert (w, h, usec) == (33, 21, 250_000) and len(pf) == 3
    for a, b in zip(dec, pf):
        assert b == [[tuple(px) for px in row] for row in a]


def test_rle8_roundtrip_hypothesis():
    """Property: for ANY 8-bit indexed frame, rle8_encode → _rle8_undo is
    the identity on indices, and the stdlib twin agrees — including
    degenerate 1-wide/1-tall frames and constant/alternating rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from ocr_image_to_text_spark import mmref

    @settings(max_examples=40, deadline=None)
    @given(arrays(dtype=np.uint8,
                  shape=st.tuples(st.integers(1, 24), st.integers(1, 24))))
    def check(idx):
        raster = mm.rle8_encode(idx)
        h, w = idx.shape
        img = mm._rle8_undo(raster, w, h, mm.GRAY_PALETTE)
        assert np.array_equal(img[:, :, 0], idx)      # gray palette: r==index
        rows = mmref._rle8_rows_py(raster, w, h, mm.GRAY_PALETTE)
        assert rows == [[tuple(px) for px in row] for row in img]

    check()


def test_undecodable_payloads_raise_like_the_oracle(spark):
    """Decode or fail: a payload mmref rejects (an unknown image magic, a
    non-WAV audio payload, a PCM8 WAV) makes the Spark operator raise too,
    instead of yielding features of made-up samples."""
    import io
    import wave

    import pytest

    from ocr_image_to_text_spark import mmref

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(bytes(range(256)))
    cases = [
        (mm.image_features, mmref.image_features_py, "image",
         b"GIF89a" + bytes(64), "unsupported image codec"),
        (mm.audio_features, mmref.audio_features_py, "audio",
         b"OggS" + bytes(64), "RIFF"),
        (mm.audio_features, mmref.audio_features_py, "audio",
         buf.getvalue(), "only PCM16"),
    ]
    for op, oracle, kind, payload, msg in cases:
        with pytest.raises(Exception):
            oracle(payload)
        media = spark.createDataFrame(
            [(1, kind, bytearray(payload), (8, 8, 500, "x"))], mm.MEDIA_SCHEMA)
        with pytest.raises(Exception, match=msg):
            op(media).collect()
