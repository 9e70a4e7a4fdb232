"""Deterministic stand-in model + oracle tests.

The models must be exactly reproducible (same seed → same weights → same
outputs) because both the oracle and the Spark UDFs rely on them; accuracy
against gt_pages is also asserted so recognition output is meaningful text,
not noise (FIXTURES.md §3). The per-worker weights cache and the oracle's
media decode (raw vs JPEG sniffing, payload length checks) are pinned too.
"""

import numpy as np
import pytest

from manuscript_ocr_spark.fixtures import PAGE_SIZE, render_page
from manuscript_ocr_spark.models import (
    DetectorConfig,
    build_weights,
    deserialize_weights,
    detect_quads,
    recognize,
    serialize_weights,
)
from manuscript_ocr_spark.kernels.image import extract_word_image, to_rgb
from manuscript_ocr_spark.oracle import page_to_line_texts


@pytest.fixture(scope="module")
def weights():
    return build_weights()


@pytest.fixture(scope="module")
def cfg():
    return DetectorConfig(target_size=PAGE_SIZE)


def test_weights_deterministic(weights):
    w2 = build_weights()
    np.testing.assert_array_equal(weights["glyphs"], w2["glyphs"])
    assert weights["itos"] == w2["itos"]


def test_glyphs_pairwise_distinct(weights):
    g = weights["glyphs"]
    n = len(g)
    for i in range(n):
        for j in range(i + 1, n):
            assert np.sum(g[i] != g[j]) >= 4  # 2x-upsampled coarse distance ≥1


def test_weights_serialize_roundtrip(weights):
    blob = serialize_weights(weights)
    w2 = deserialize_weights(blob)
    np.testing.assert_array_equal(weights["glyphs"], w2["glyphs"])
    assert w2["itos"] == weights["itos"]
    assert w2["eos_id"] == weights["eos_id"]
    assert w2["max_len"] == weights["max_len"]


def test_detector_finds_gt_words(weights, cfg):
    # normal pages: every gt word yields exactly one detection whose center
    # matches, and vice versa
    gray, gt = render_page(0, weights)
    pixels = to_rgb(gray)
    quads = detect_quads(pixels, cfg)
    assert len(quads) == len(gt)
    gt_centers = sorted(
        (
            (g["polygon"][0][0] + g["polygon"][2][0]) / 2,
            (g["polygon"][0][1] + g["polygon"][2][1]) / 2,
        )
        for g in gt
    )
    det_centers = sorted(
        (
            float((q[0] + q[2]) / 2),
            float((q[1] + q[5]) / 2),
        )
        for q in quads
    )
    for (gx, gy), (dx, dy) in zip(gt_centers, det_centers):
        assert abs(gx - dx) < 3 and abs(gy - dy) < 3


def test_detector_empty_page(weights, cfg):
    pixels = np.full((PAGE_SIZE, PAGE_SIZE, 3), 255, dtype=np.uint8)
    assert detect_quads(pixels, cfg).shape == (0, 9)


def test_recognizer_exact_on_gt_crops(weights, cfg):
    # crops taken at the DETECTED (expanded) boxes must recognize to the gt
    # text of the word whose rect contains the box center
    total = correct = 0
    for p in range(6):
        gray, gt = render_page(p, weights)
        pixels = to_rgb(gray)
        for quad in detect_quads(pixels, cfg):
            poly = np.array(quad[:8].reshape(4, 2), dtype=np.int32)
            crop = extract_word_image(pixels, poly)
            if crop is None:
                continue
            cx = (poly[:, 0].min() + poly[:, 0].max()) / 2
            cy = (poly[:, 1].min() + poly[:, 1].max()) / 2
            match = [
                g
                for g in gt
                if g["polygon"][0][0] <= cx <= g["polygon"][2][0]
                and g["polygon"][0][1] <= cy <= g["polygon"][2][1]
            ]
            if not match:
                continue
            res = recognize([crop], weights)[0]
            total += 1
            if res["text"] == match[0]["text"]:
                correct += 1
            assert 0.0 < res["confidence"] <= 1.0
    assert total > 10
    assert correct == total


def test_recognizer_empty_crop(weights):
    crop = np.full((20, 40, 3), 255, dtype=np.uint8)
    res = recognize([crop], weights)[0]
    assert res["text"] == ""


def test_recognizer_batching_consistent(weights, cfg):
    gray, gt = render_page(0, weights)
    pixels = to_rgb(gray)
    quads = detect_quads(pixels, cfg)
    crops = []
    for quad in quads:
        poly = np.array(quad[:8].reshape(4, 2), dtype=np.int32)
        c = extract_word_image(pixels, poly)
        if c is not None:
            crops.append(c)
    r1 = recognize(crops, weights, batch_size=2)
    r2 = recognize(crops, weights, batch_size=32)
    assert r1 == r2


def test_oracle_lines_match_gt(weights, cfg):
    for p in range(8):
        gray, gt = render_page(p, weights)
        lines = page_to_line_texts(to_rgb(gray), weights, cfg)
        per_line = {}
        for g in gt:
            per_line.setdefault(g["line"], []).append((g["pos"], g["text"]))
        gt_lines = [
            " ".join(t for _, t in sorted(v)) for _, v in sorted(per_line.items())
        ]
        assert lines == gt_lines, f"page {p}"


def test_weights_cache_never_aliases_blobs():
    """Two distinct blobs through _get_weights must yield their own weights
    even if CPython reuses an id after GC; the cached blob is kept alive so
    id reuse is impossible while cached."""
    from manuscript_ocr_spark import pipeline as P
    from manuscript_ocr_spark.models.glyphs import (
        build_weights,
        serialize_weights,
    )

    P._WEIGHTS_CACHE.clear()
    w = build_weights()
    blob_a = serialize_weights(w)
    got_a = P._get_weights(blob_a)
    # the cache must hold a strong ref to blob_a itself (id stays valid)
    (key,) = P._WEIGHTS_CACHE
    assert P._WEIGHTS_CACHE[key][0] is blob_a
    # same blob → cache hit (same object back)
    assert P._get_weights(blob_a) is got_a
    # adversarial: a DIFFERENT bytes object forged at the same id is
    # impossible while blob_a is cached, but an equal-id stale entry must
    # still be rejected by the identity re-check
    blob_b = serialize_weights(w) + b"x"  # distinct object, equal-ish prefix
    P._WEIGHTS_CACHE[id(blob_b)] = (blob_a, got_a)  # simulate stale id reuse
    try:
        P._get_weights(blob_b[:-1])  # not the cached object → must miss
    except Exception:
        pass  # deserialization path is exercised; any parse error is fine
    finally:
        P._WEIGHTS_CACHE.clear()


def test_raw_payload_with_jpeg_prefix_falls_back_to_raw():
    from manuscript_ocr_spark.oracle import decode_media

    h, w = 6, 9
    img = np.full((h, w), 200, dtype=np.uint8)
    # first three pixels collide with the JPEG SOI+marker prefix
    img.flat[0], img.flat[1], img.flat[2] = 255, 216, 255
    out = decode_media(img.tobytes(), h, w, 1)
    assert out.shape == (h, w)
    np.testing.assert_array_equal(out, img)


def test_raw_payload_with_jpeg_prefix_3channel():
    from manuscript_ocr_spark.oracle import decode_media

    h, w = 4, 5
    img = np.full((h, w, 3), 180, dtype=np.uint8)
    img[0, 0] = (255, 216, 255)
    out = decode_media(img.tobytes(), h, w, 3)
    assert out.shape == (h, w, 3)
    np.testing.assert_array_equal(out, img)


def test_real_jpeg_still_sniffed():
    from manuscript_ocr_spark.kernels.jpeg import encode_jpeg
    from manuscript_ocr_spark.oracle import decode_media

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    payload = encode_jpeg(img, quality=95)
    assert payload[:3] == b"\xff\xd8\xff"
    assert len(payload) != 16 * 24  # the length gate routes it to the codec
    out = decode_media(payload, 16, 24, 1)
    assert out.shape == (16, 24)


def test_missized_raw_payload_raises_clear_error():
    from manuscript_ocr_spark.oracle import decode_media

    with pytest.raises(ValueError, match="raw payload is"):
        decode_media(b"\x00" * 10, 4, 4, 1)
