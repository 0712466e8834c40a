"""Stdlib-zlib PNG codec: encode with all five per-row filters, decode via
inflate + filter reversal, and the signature-dispatched raster path that
makes compressed-image features/dedup first-class (no Pillow).

Parity anchor: the PNG generator emits the same doc_id-seeded pixel grid as
the PPM generator, so every downstream feature must be byte-identical
across the two containers."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from dataops.multimodal import (
    _png_bytes,
    _png_decode,
    _ppm_bytes,
    _ppm_decode,
    _raster_decode,
    decode_resize_features,
    image_ahash,
    image_from_documents,
    png_from_documents,
)


@pytest.mark.parametrize(
    "doc_id,w,h",
    [(0, 1, 1), (3, 1, 7), (7, 5, 1), (12, 33, 47), (99, 64, 48)],
)
def test_png_roundtrip_equals_ppm_grid(doc_id, w, h):
    got = _png_decode(_png_bytes(doc_id, w, h))
    want = _ppm_decode(_ppm_bytes(doc_id, w, h))
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, want)


def test_png_exercises_all_five_filters():
    """Scanline y uses filter (doc_id + y) % 5 — an image taller than 4
    rows carries every filter type, and the decode must reverse each."""
    png = _png_bytes(11, 16, 10)
    # pull the filter bytes back out of the decompressed stream
    pos, idat = 8, bytearray()
    while pos + 8 <= len(png):
        (length,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat.extend(png[pos + 8 : pos + 8 + length])
        pos += 12 + length
    rows = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    filters = rows.reshape(10, -1)[:, 0]
    assert set(filters.tolist()) == {0, 1, 2, 3, 4}
    assert np.array_equal(
        _png_decode(png), _ppm_decode(_ppm_bytes(11, 16, 10))
    )


def test_png_multi_chunk_idat_reassembles():
    # 300x300 compresses past the 8 KiB chunk split
    png = _png_bytes(5, 300, 300)
    n_idat = png.count(b"IDAT")
    assert n_idat >= 2
    assert _png_decode(png).shape == (300, 300, 3)


def test_png_malformed_raises():
    png = bytearray(_png_bytes(5, 20, 20))
    bad = png.copy()
    bad[60] ^= 0xFF  # corrupt a payload byte -> CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        _png_decode(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        _png_decode(b"\x89PNO" + bytes(png[4:]))
    with pytest.raises(ValueError, match="truncated"):
        _png_decode(bytes(png[:40]))
    # unsupported color type: patch IHDR to grayscale and re-CRC
    gray = png.copy()
    ihdr = bytearray(gray[16:29])
    ihdr[9] = 0  # color type 0
    crc = zlib.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF
    gray[16:29] = ihdr
    gray[29:33] = struct.pack(">I", crc)
    with pytest.raises(ValueError, match="unsupported PNG"):
        _png_decode(bytes(gray))


def test_raster_decode_dispatches_on_signature():
    assert np.array_equal(
        _raster_decode(_png_bytes(4, 9, 6)), _raster_decode(_ppm_bytes(4, 9, 6))
    )
    with pytest.raises(ValueError, match="unsupported raster"):
        _raster_decode(b"GIF89a....")


def test_png_features_equal_ppm_features(spark):
    """The full Spark path: PNG and PPM corpora produce IDENTICAL feature
    rows and aHash fingerprints through the shared raster dispatcher."""
    docs = spark.createDataFrame(
        [(i, 40 + 13 * i) for i in range(6)], "doc_id long, n_chars long"
    )
    ppm = image_from_documents(docs)
    png = png_from_documents(docs)
    f_ppm = {
        r.doc_id: r
        for r in decode_resize_features(ppm, max_side=32).collect()
    }
    f_png = {
        r.doc_id: r
        for r in decode_resize_features(png, max_side=32, backend="png").collect()
    }
    assert set(f_ppm) == set(f_png) == set(range(6))
    for i in range(6):
        assert f_ppm[i] == f_png[i]
    h_ppm = {r.doc_id: r.phash for r in image_ahash(ppm).collect()}
    h_png = {r.doc_id: r.phash for r in image_ahash(png).collect()}
    assert h_ppm == h_png


def test_png_truncated_crc_and_bad_ihdr_raise_valueerror():
    """Every malformed shape must raise ValueError, never leak a
    struct.error: truncation INSIDE a chunk's CRC bytes, and an IHDR
    whose declared length is not 13."""
    png = bytearray(_png_bytes(5, 12, 9))
    # cut inside the IHDR CRC (IHDR chunk spans bytes 8..33; CRC 29..33)
    with pytest.raises(ValueError, match="truncated"):
        _png_decode(bytes(png[:31]))
    # IHDR with a wrong declared length, re-CRC'd so it parses that far
    bad = bytearray(png)
    bad[8:12] = struct.pack(">I", 14)  # claim 14-byte IHDR
    payload = bytes(bad[16:30])  # 14 bytes now
    bad[30:34] = struct.pack(">I", zlib.crc32(b"IHDR" + payload) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="bad IHDR length"):
        _png_decode(bytes(bad))
