"""Baseline JPEG codec (kernels/jpeg.py): round-trip quality across layouts
(gray / 4:4:4 / 4:2:0 / odd sizes / restart intervals), exactness on
DC-only content, malformed/progressive rejection, dispatch, and the
archival-scan claim: OCR output is INVARIANT under q95 JPEG of fixture
pages."""

from __future__ import annotations

import numpy as np
import pytest

from manuscript_ocr_spark.kernels.jpeg import (
    JpegError,
    ZIGZAG,
    decode_jpeg,
    encode_jpeg,
)


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


def _gradient(h, w):
    y, x = np.mgrid[0:h, 0:w]
    return ((x + y) * 255 // (h + w - 2)).astype(np.uint8)


def test_zigzag_is_the_standard_scan():
    # T.81 Figure A.6 first and last entries
    assert list(ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(ZIGZAG[-4:]) == [47, 55, 62, 63]
    assert sorted(ZIGZAG) == list(range(64))


def test_uniform_block_roundtrips_exactly():
    img = np.full((16, 24), 130, np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(img, 90)), img)


@pytest.mark.parametrize(
    "shape,subsample,quality,floor",
    [
        ((64, 96), False, 90, 45.0),
        ((37, 51), False, 85, 40.0),
        ((40, 56, 3), False, 90, 42.0),
        ((40, 56, 3), True, 90, 35.0),
        ((33, 41, 3), True, 80, 30.0),
    ],
)
def test_roundtrip_psnr(shape, subsample, quality, floor):
    if len(shape) == 2:
        img = _gradient(*shape)
    else:
        g = _gradient(shape[0], shape[1])
        img = np.stack([g, g[::-1], np.full_like(g, 128)], axis=-1)
    back = decode_jpeg(encode_jpeg(img, quality, subsample=subsample))
    assert back.shape == img.shape
    assert _psnr(img, back) >= floor


def test_restart_intervals_decode_identically():
    img = _gradient(64, 96)
    plain = decode_jpeg(encode_jpeg(img, 90))
    rst = decode_jpeg(encode_jpeg(img, 90, restart_interval=3))
    np.testing.assert_array_equal(plain, rst)


def test_fill_bytes_before_markers_tolerated():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker —
    real encoders emit them; the header parser must skip them."""
    img = _gradient(16, 16)
    blob = encode_jpeg(img, 90)
    dqt = blob.find(b"\xff\xdb")
    sos = blob.find(b"\xff\xda")
    padded = blob[:dqt] + b"\xff\xff\xff" + blob[dqt:sos] + b"\xff" + blob[sos:]
    np.testing.assert_array_equal(decode_jpeg(padded), decode_jpeg(blob))


def test_malformed_and_progressive_rejected():
    with pytest.raises(JpegError, match="SOI"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")
    # a baseline stream relabeled SOF2 is a MALFORMED progressive file (its
    # single scan spans 0..63; progressive DC must be its own scan) — round
    # 4 added real SOF2 support, so the rejection is now semantic, not
    # blanket
    blob = bytearray(encode_jpeg(_gradient(16, 16), 90))
    sof = blob.find(b"\xff\xc0")
    blob[sof + 1] = 0xC2  # flip SOF0 → SOF2 (progressive)
    with pytest.raises(JpegError, match="DC must be its own scan"):
        decode_jpeg(bytes(blob))
    # lossless / arithmetic frames stay rejected
    blob[sof + 1] = 0xC3  # SOF3 lossless
    with pytest.raises(JpegError, match="SOF0/1"):
        decode_jpeg(bytes(blob))


def test_decode_external_dispatch_jpeg():
    from manuscript_ocr_spark.functions.multimodal import decode_external

    img = _gradient(24, 24)
    back = decode_external(encode_jpeg(img, 95), "jpeg")
    assert _psnr(img, back) >= 45.0
    with pytest.raises(NotImplementedError):
        decode_external(b"\x00\x00\x00\x20ftypmp42", "mp4")


def test_extraction_over_q95_jpeg_media_equals_raw(tmp_path):
    """Pipeline transparency: a JPEG-compressed media table flows through
    extract_spans unchanged (decode sniff in decode_media) and — at q95 on
    these high-contrast pages — produces identical output spans."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.fixtures import PAGE_SIZE, ensure_tier
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import decode_media
    from manuscript_ocr_spark.pipeline import extract_spans
    from manuscript_ocr_spark.session import get_spark

    spark = get_spark(app_name="jpeg-pipeline-test")
    d = ensure_tier("sf-small")
    rows = pq.read_table(f"{d}/media.parquet").to_pylist()
    jt = pa.table(
        {
            "media_ref": [m["media_ref"] for m in rows],
            "width": pa.array([m["width"] for m in rows], pa.int32()),
            "height": pa.array([m["height"] for m in rows], pa.int32()),
            "channels": pa.array([m["channels"] for m in rows], pa.int32()),
            "pixels": pa.array(
                [
                    encode_jpeg(
                        decode_media(m["pixels"], m["height"], m["width"], m["channels"]),
                        quality=95,
                    )
                    for m in rows
                ],
                pa.binary(),
            ),
        }
    )
    jpath = str(tmp_path / "media_jpeg.parquet")
    pq.write_table(jt, jpath, row_group_size=8)

    docs = spark.read.parquet(f"{d}/docs.parquet").limit(25)
    cfg = DetectorConfig(target_size=PAGE_SIZE)
    raw = {
        r["doc_id"]: r["spans"]
        for r in extract_spans(
            docs, spark.read.parquet(f"{d}/media.parquet"), cfg=cfg
        ).collect()
    }
    jpg = {
        r["doc_id"]: r["spans"]
        for r in extract_spans(docs, spark.read.parquet(jpath), cfg=cfg).collect()
    }
    assert len(raw) == 25 and raw == jpg


def test_ocr_invariant_under_q95_jpeg_of_fixture_pages():
    """The archival claim: re-encoding manuscript pages as quality-95 JPEG
    must not change the OCR output (INK 20 vs WORD_BG 200 contrast dwarfs
    the ±few-level DCT error)."""
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.fixtures import PAGE_SIZE, ensure_tier
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights
    from manuscript_ocr_spark.oracle import decode_media, page_to_line_texts

    d = ensure_tier("sf-small")
    rows = pq.read_table(f"{d}/media.parquet").to_pylist()
    weights = build_weights()
    cfg = DetectorConfig(target_size=PAGE_SIZE)
    checked = 0
    for m in rows:
        img = decode_media(m["pixels"], m["height"], m["width"], m["channels"])
        want = page_to_line_texts(img, weights, cfg)
        if not want:
            continue
        back = decode_jpeg(encode_jpeg(img, quality=95))
        assert _psnr(img, back) >= 40.0
        got = page_to_line_texts(back, weights, cfg)
        assert got == want, m["media_ref"]
        checked += 1
        if checked >= 8:
            break
    assert checked >= 8
