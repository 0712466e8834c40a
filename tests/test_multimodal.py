"""Multimodal plumbing + the real WAV decode path."""

from __future__ import annotations

import math

import pytest

from dataops.multimodal import (
    FEATURE_DIM,
    _wav_bytes,
    _wav_features,
    audio_from_documents,
    decode_features,
    media_from_documents,
)


def test_wav_roundtrip_features_match_signal_theory():
    doc_id = 5  # freq = 110 + 5*55 = 385 Hz, amp = 0.1 + 5*0.1 = 0.6
    feats = _wav_features(_wav_bytes(doc_id, sample_rate=8000, seconds=0.25))
    duration, rms, zcr, peak = feats[0], feats[1], feats[2], feats[3]
    assert duration == pytest.approx(0.25)
    # a sine at amplitude A has rms A/sqrt(2) and peak ~A
    assert rms == pytest.approx(0.6 / math.sqrt(2), rel=0.02)
    assert peak == pytest.approx(0.6, rel=0.02)
    # zero crossings per sample ~ 2*freq/sr
    assert zcr == pytest.approx(2 * 385.0 / 8000.0, rel=0.05)
    # band energies sum to ~1
    assert sum(feats[5:8]) == pytest.approx(1.0, rel=1e-6)


def test_decode_features_wav_backend_end_to_end(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    audio = audio_from_documents(docs)
    out = decode_features(audio, backend="wav").collect()
    assert len(out) == 8
    for row in out:
        assert row["kind"] == "audio"
        assert len(row["features"]) == FEATURE_DIM
        assert row["features"][0] == pytest.approx(0.25)
    # deterministic: same doc_id -> same features
    again = decode_features(audio_from_documents(docs), backend="wav").collect()
    assert {r["doc_id"]: r["features"] for r in out} == {
        r["doc_id"]: r["features"] for r in again
    }


def test_decode_features_stub_and_unknown_backend(spark, tables):
    media = media_from_documents(tables["documents"].limit(4))
    assert decode_features(media, backend="stub").count() == 4
    with pytest.raises(Exception, match="NotImplementedError|backend"):
        decode_features(media, backend="pillow").collect()


def test_ppm_roundtrip_decode():
    import numpy as np

    from dataops.multimodal import _ppm_bytes, _ppm_decode

    img = _ppm_decode(_ppm_bytes(3, 40, 20))
    assert img.shape == (20, 40, 3)
    # spot-check the generator formula: r = (x * (doc_id%7+1)) % 256
    assert img[0, 10, 0] == (10 * 4) % 256
    assert img[5, 0, 1] == (5 * 4) % 256
    with pytest.raises(ValueError, match="not a P6"):
        _ppm_decode(b"JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        _ppm_decode(b"P6\n40 20\n255\n" + b"\x00" * 10)


def test_nn_resize_shapes_and_values():
    import numpy as np

    from dataops.multimodal import _nn_resize

    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    small = _nn_resize(img, 3, 2)
    assert small.shape == (2, 3, 3)
    # nearest-neighbor picks source rows {0,2} and cols {0,2,4}
    assert (small == img[[0, 2]][:, [0, 2, 4]]).all()


def test_decode_resize_features_end_to_end(spark):
    from dataops.multimodal import (
        decode_resize_features,
        image_from_documents,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, 100), (2, 700)], "doc_id long, n_chars long"
    )
    out = {r["doc_id"]: r for r in decode_resize_features(
        image_from_documents(docs), max_side=64
    ).collect()}
    # n_chars=100 -> 132x132; n_chars=700 -> 92x252 (per the meta formula)
    assert (out[1]["width"], out[1]["height"]) == (132, 132)
    assert (out[1]["target_width"], out[1]["target_height"]) == (64, 64)
    # aspect preserved within rounding for the non-square image
    r2 = out[2]
    assert max(r2["target_width"], r2["target_height"]) == 64
    assert abs(
        r2["target_width"] / r2["target_height"]
        - r2["width"] / r2["height"]
    ) < 0.05
    for r in out.values():
        assert 0.0 <= r["mean_r"] <= 255.0
        assert r["std_luma"] > 0.0


def test_ppm_decode_payload_starting_with_whitespace_byte():
    import numpy as np

    from dataops.multimodal import _ppm_decode

    # spec-valid P6 whose first pixel byte is 0x20 (space) — a whitespace
    # split would swallow it and mis-report truncation
    payload = bytes([0x20, 0x01, 0x02, 0x0A, 0x03, 0x04])
    img = _ppm_decode(b"P6\n2 1\n255\n" + payload)
    assert img.shape == (1, 2, 3)
    assert list(img.reshape(-1)) == [0x20, 0x01, 0x02, 0x0A, 0x03, 0x04]


def test_resize_targets_match_resize_plan_exactly(spark):
    from dataops.multimodal import (
        decode_resize_features,
        image_from_documents,
        resize_plan,
    )
    from pyspark.sql import functions as F

    # include a half-way rounding case: 45 * 0.1 = 4.5
    docs = spark.createDataFrame(
        [(1, 100), (2, 700), (3, 13)], "doc_id long, n_chars long"
    )
    media = image_from_documents(docs)
    plan = {
        r["doc_id"]: (r["target_width"], r["target_height"])
        for r in resize_plan(media, max_side=64).collect()
    }
    got = {
        r["doc_id"]: (r["target_width"], r["target_height"])
        for r in decode_resize_features(media, max_side=64).collect()
    }
    assert plan == got


def test_image_ahash_and_near_pairs(spark):
    """Identical images hash identically (hamming 0); a lightly brightened
    copy lands within the hamming budget; unrelated gradients do not pair.
    Verified against brute-force hamming over all pairs."""
    from itertools import combinations

    from dataops import multimodal as mm

    rows = []
    for doc_id, seed, bright in [
        (0, 1, 0),
        (1, 1, 0),     # exact duplicate of 0
        (2, 1, 6),     # brightened copy of 0 (same structure)
        (3, 9, 0),     # different gradient
        (4, 23, 0),    # different gradient
    ]:
        content = bytearray(mm._ppm_bytes(seed, 40, 30))
        if bright:
            header_end = content.index(b"255\n") + 4
            for i in range(header_end, len(content)):
                content[i] = min(255, content[i] + bright)
        rows.append((doc_id, "image", bytes(content), None))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    fps = {r["doc_id"]: r["phash"] for r in mm.image_ahash(media).collect()}
    assert len(fps) == 5
    assert fps[0] == fps[1]

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_near_pairs(media, max_hamming=7).collect()
    }
    want = {}
    for a, b in combinations(sorted(fps), 2):
        d = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        if d <= 7:
            want[(a, b)] = d
    assert got == want
    assert got[(0, 1)] == 0
    assert (0, 2) in got  # brightened copy caught


def test_y4m_roundtrip_and_frame_features(spark):
    import numpy as np

    from dataops import multimodal as mm

    # roundtrip: generated planes decode back bit-for-bit
    raw = mm._y4m_bytes(7, 20, 12, 3)
    frames = mm._y4m_decode(raw)
    assert len(frames) == 3 and frames[0].shape == (12, 20)
    y, x = np.mgrid[0:12, 0:20]
    want0 = ((x * (7 % 7 + 1) + y * 1 + 7) % 256).astype(np.uint8)
    assert (frames[0] == want0).all()

    # pipeline: every 2nd frame, stats match numpy
    docs = spark.createDataFrame([(1, 100), (2, 37)], "doc_id long, n_chars long")
    media = mm.video_from_documents(docs)
    got = {
        (r["doc_id"], r["frame_index"]): (r["mean_luma"], r["min_luma"], r["max_luma"])
        for r in mm.video_frame_features(media, every_n=2).collect()
    }
    for doc_id, n_chars in [(1, 100), (2, 37)]:
        w, h, nf = n_chars % 32 + 16, n_chars % 24 + 16, n_chars % 8 + 2
        fs = mm._y4m_decode(mm._y4m_bytes(doc_id, w, h, nf))
        for idx in range(0, nf, 2):
            a = fs[idx].astype(float)
            assert got[(doc_id, idx)] == (
                round(float(a.mean()), 6),
                int(fs[idx].min()),
                int(fs[idx].max()),
            )
        assert (doc_id, 1) not in got  # odd frames skipped


def test_y4m_decode_rejects_corrupt(spark):
    import pytest as _pytest

    from dataops import multimodal as mm

    with _pytest.raises(ValueError, match="not a YUV4MPEG2"):
        mm._y4m_decode(b"garbage")
    ok = mm._y4m_bytes(1, 8, 8, 2)
    with _pytest.raises(ValueError, match="truncated"):
        mm._y4m_decode(ok[:-5])
    with _pytest.raises(ValueError, match="unsupported colorspace"):
        mm._y4m_decode(b"YUV4MPEG2 W8 H8 C420jpeg\nFRAME\n" + b"\0" * 96)


# ---------------------------------------------------------------- gated codecs


def test_gated_backend_missing_lib_raises_clearly(spark):
    """When pillow/soundfile are absent, the gated backends must fail on
    the DRIVER at call time with an actionable ImportError — never an
    opaque executor task failure (mirrors the openpyxl xlsx gate)."""
    import pytest

    from dataops.multimodal import (
        decode_features,
        decode_resize_features,
        media_from_documents,
    )

    docs = spark.createDataFrame([(1, "t", 10)], "doc_id long, text string, n_chars long")
    media = media_from_documents(docs)
    for backend, lib in (("pillow", "PIL"), ("soundfile", "soundfile")):
        try:
            __import__(lib)
        except ImportError:
            with pytest.raises(ImportError, match=backend):
                decode_features(media, backend=backend)
        else:  # pragma: no cover - lib present in some environments
            decode_features(media, backend=backend)
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="pillow"):
            decode_resize_features(media, backend="pillow")


def test_unknown_decode_backend_still_not_implemented(spark):
    import pytest

    from dataops.multimodal import (
        decode_features,
        media_from_documents,
    )

    docs = spark.createDataFrame([(1, "t", 10)], "doc_id long, text string, n_chars long")
    out = decode_features(media_from_documents(docs), backend="ffmpeg")
    with pytest.raises(Exception, match="ffmpeg"):
        out.collect()


def test_pillow_backend_decodes_png(spark):
    """Real compressed-image decode via the optional pillow package:
    PNG-encode the deterministic gradient, decode through BOTH gated entry
    points, and check statistics against the raw array. Skipped when
    pillow is absent (this container)."""
    import pytest

    PIL = pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from dataops.multimodal import decode_resize_features

    y, x = np.mgrid[0:40, 0:60]
    img = np.dstack([(x % 256), (y % 256), ((x + y) % 256)]).astype(np.uint8)
    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()))],
        "doc_id long, kind string, content binary",
    )
    row = decode_resize_features(media, max_side=256, backend="pillow").collect()[0]
    assert (row.width, row.height) == (60, 40)
    assert abs(row.mean_r - img[..., 0].mean()) < 1e-6


def test_soundfile_backend_decodes_flac(spark):
    """Real compressed-audio decode via the optional soundfile package:
    FLAC round-trip must match the stdlib wav feature math (FLAC is
    lossless). Skipped when soundfile is absent (this container)."""
    import pytest

    sf = pytest.importorskip("soundfile")
    import io

    import numpy as np

    from dataops.multimodal import (
        _signal_features,
        decode_features,
    )

    sr, n = 8000, 2000
    t = np.arange(n) / sr
    x = (0.5 * np.sin(2 * np.pi * 220 * t)).astype(np.float64)
    buf = io.BytesIO()
    sf.write(buf, x, sr, format="FLAC", subtype="PCM_16")
    media = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue()))],
        "doc_id long, kind string, content binary",
    )
    feats = decode_features(media, backend="soundfile").collect()[0].features
    want = _signal_features(np.round(x * 32767) / 32768.0, sr)
    assert np.allclose(feats[:4], want[:4], atol=1e-3)
