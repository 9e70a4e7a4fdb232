"""Deterministic fixture generation (FIXTURES.md): docs / media / gt_pages /
expected_spans parquet tiers, seed 42, no external data, no image codecs —
pixels are raw uint8 C-order bytes, single-channel grayscale (channels=1),
expanded to RGB at decode (oracle.decode_media).

Pages are generated at the detector-native input size (PAGE_SIZE) so the
detector resize is identity and cannot introduce resampling divergence
(SURVEY.md §7.3). Words are monospaced glyph blocks (models/glyphs.py) drawn
as ink (20) on a word-background rectangle (200) over a white page (255),
with rectangles aligned to the stride-4 grid so score-map blocks are exactly
0 or 1. Page variants deliberately trigger the post-processing branches:
anomaly pages (giant figure rect → F5), containment pages (decoy inside an
expanded box → F4), dense pages (skew tier), empty pages.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .models.glyphs import GLYPH_SIZE, INK, PAGE_BG, SYMBOLS, WORD_BG, build_weights

PAGE_SIZE = 640
SEED = 42

SPAN_STRUCT = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
OUT_SPAN_STRUCT = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
        ("seq", pa.int32()),
    ]
)


def _align4(v: int) -> int:
    return ((v + 3) // 4) * 4


def render_word(canvas: np.ndarray, x0: int, y0: int, text: str, scale: int, glyphs, stoi):
    """Draw one word; returns (x_min, y_min, x_max, y_max) of the word rect
    (grid-aligned). x0, y0 must be multiples of 4."""
    cell = GLYPH_SIZE * scale                  # glyph cell (square)
    gap = int(0.8 * GLYPH_SIZE) * scale        # inter-glyph gap (GLYPH_GAP_RATIO)
    pad = int(0.2 * GLYPH_SIZE) * scale        # padding inside the rect (WORD_PAD_RATIO)
    n = len(text)
    w = _align4(n * cell + (n - 1) * gap + 2 * pad)
    h = _align4(cell + 2 * pad)
    if x0 + w > canvas.shape[1] or y0 + h > canvas.shape[0]:
        return None  # doesn't fit; caller skips the word
    canvas[y0 : y0 + h, x0 : x0 + w] = WORD_BG
    for i, ch in enumerate(text):
        g = glyphs[stoi[ch] - 3]  # symbol ids start after 3 specials
        gx = x0 + pad + i * (cell + gap)
        gy = y0 + pad
        block = np.kron(g, np.ones((scale, scale), dtype=np.uint8))
        region = canvas[gy : gy + cell, gx : gx + cell]
        region[block == 1] = INK
    return (x0, y0, x0 + w, y0 + h)


def _rand_word(rng, lo=2, hi=6) -> str:
    n = int(rng.integers(lo, hi + 1))
    return "".join(SYMBOLS[int(i)] for i in rng.integers(0, len(SYMBOLS), n))


def render_page(page_idx: int, weights: dict):
    """One deterministic page → (pixels (H,W,3) uint8, gt_words list).

    gt_words: dicts {polygon (4×2 float), text, line, pos}. Decoy/figure
    rects (meant to be filtered away) are not gt words.
    """
    rng = np.random.default_rng(SEED + page_idx)
    glyphs = weights["glyphs"]
    stoi = weights["stoi"]

    r = rng.random()
    if r < 0.05:
        kind = "empty"
    elif r < 0.10:
        kind = "dense"
    elif r < 0.15:
        kind = "anomaly"
    elif r < 0.22:
        kind = "containment"
    else:
        kind = "normal"

    # ~10% of normal pages are half-size scans: the detector must resize them
    # to target_size (bilinear upscale) and scale boxes back to original
    # coordinates (infer.py:304, 345-348) — identity on full-size pages,
    # genuinely exercised here
    page_size = PAGE_SIZE
    if kind == "normal" and rng.random() < 0.12:
        page_size = PAGE_SIZE // 2
    gray = np.full((page_size, page_size), PAGE_BG, dtype=np.uint8)

    gt = []

    def layout_lines(n_lines, words_per_line, scale, margin, x_gap, y_gap):
        y = margin
        cell = GLYPH_SIZE * scale
        line_h = _align4(cell + 4 * scale)
        for li in range(n_lines):
            x = margin
            for pi in range(words_per_line):
                text = _rand_word(rng, 2, 4 if scale == 1 else 6)
                n = len(text)
                gap_px = int(0.8 * GLYPH_SIZE) * scale
                pad_px = int(0.2 * GLYPH_SIZE) * scale
                w_est = _align4(n * cell + (n - 1) * gap_px + 2 * pad_px)
                if x + w_est > page_size - margin:
                    break
                rect = render_word(gray, x, y, text, scale, glyphs, stoi)
                if rect is None:
                    break
                gt.append(
                    {
                        "polygon": [
                            [float(rect[0]), float(rect[1])],
                            [float(rect[2]), float(rect[1])],
                            [float(rect[2]), float(rect[3])],
                            [float(rect[0]), float(rect[3])],
                        ],
                        "text": text,
                        "line": li,
                        "pos": pi,
                    }
                )
                x = rect[2] + x_gap
            y += line_h + y_gap

    if kind == "empty":
        pass
    elif kind == "dense":
        # skew tier: many small words (scale 1, expand offset ≈ 7.6px < gaps)
        layout_lines(
            n_lines=int(rng.integers(8, 13)),
            words_per_line=int(rng.integers(8, 13)),
            scale=1,
            margin=20,
            x_gap=20,
            y_gap=20,
        )
    elif kind == "anomaly":
        # >30 words + one giant figure rect → area-anomaly filter (F5) drops
        # the figure; placed bottom-right with ≥100px clearance so the
        # containment filter (F4, which runs first) cannot interact.
        layout_lines(6, 8, 1, margin=20, x_gap=24, y_gap=16)
        gray[480:600, 400:624] = WORD_BG
    elif kind == "containment":
        # a big word plus a small decoy rect close beneath it: after the 0.9
        # expansion the decoy's box lies fully inside the word's box → the
        # contained-box filter (F4) drops the decoy.
        text = _rand_word(rng, 3, 5)
        rect = render_word(gray, 80, 80, text, 3, glyphs, stoi)
        assert rect is not None  # 5 chars at scale 3 always fits at (80, 80)
        gt.append(
            {
                "polygon": [
                    [float(rect[0]), float(rect[1])],
                    [float(rect[2]), float(rect[1])],
                    [float(rect[2]), float(rect[3])],
                    [float(rect[0]), float(rect[3])],
                ],
                "text": text,
                "line": 0,
                "pos": 0,
            }
        )
        cx = (rect[0] + rect[2]) // 2 // 4 * 4
        gray[rect[3] + 8 : rect[3] + 16, cx : cx + 8] = WORD_BG - 40
        # a couple of normal lines below, clear of the expansion zones
        y = rect[3] + 80
        x = 80
        for pi in range(3):
            t2 = _rand_word(rng, 2, 5)
            r2 = render_word(gray, x, y, t2, 2, glyphs, stoi)
            if r2 is None:
                break
            gt.append(
                {
                    "polygon": [
                        [float(r2[0]), float(r2[1])],
                        [float(r2[2]), float(r2[1])],
                        [float(r2[2]), float(r2[3])],
                        [float(r2[0]), float(r2[3])],
                    ],
                    "text": t2,
                    "line": 1,
                    "pos": pi,
                }
            )
            x = r2[2] + 40
    else:
        layout_lines(
            n_lines=int(rng.integers(2, 7)),
            words_per_line=int(rng.integers(2, 6)),
            scale=2,
            margin=24,
            x_gap=40,
            y_gap=28,
        )

    # pages ship single-channel (manuscript scans are grayscale); the decode
    # step expands to RGB (oracle.decode_media), mirroring the reference's
    # gray→RGB coercion — and the payload moves 3x less data end to end
    return gray, gt


# ---------------------------------------------------------------------------
# docs generation (interleaved text+media spans)
# ---------------------------------------------------------------------------

_TEXT_TEMPLATES = [
    "the quick brown fox jumps over the lazy dog",
    "a manuscript page holds many lines of careful writing",
    "data pipelines clean and order the spans of each document",
    "reading order flows from the top of the page to the bottom",
    "archival scans arrive in batches and leave as ordered text",
]

_BOILERPLATE = [
    "{{nav}}home | archive | about | contact{{/nav}}",
    "{{header}}THE DAILY MANUSCRIPT — est 1887{{/header}}",
    "{{footer}}copyright 2026 all rights reserved{{/footer}}",
    "{{ad}}subscribe now for unlimited scans!{{/ad}}",
]


def make_text_span(rng) -> str:
    parts = []
    if rng.random() < 0.5:
        parts.append(_BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))])
    parts.append(_TEXT_TEMPLATES[int(rng.integers(0, len(_TEXT_TEMPLATES)))])
    if rng.random() < 0.3:
        parts.append(_TEXT_TEMPLATES[int(rng.integers(0, len(_TEXT_TEMPLATES)))])
    if rng.random() < 0.4:
        parts.append(_BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))])
    if rng.random() < 0.05:
        return "  ".join(_BOILERPLATE)  # strips to empty → span dropped
    return "  ".join(parts)


def generate_docs(n_docs: int, n_pages: int, seed: int = SEED):
    """docs rows: (doc_id, spans list-of-dicts). Media refs index the shared
    page pool (reused across docs — the dedup opportunity at scale)."""
    rng = np.random.default_rng(seed + 1_000_003)
    docs = []
    for d in range(n_docs):
        n_spans = int(rng.integers(1, 7))
        spans = []
        for off in range(n_spans):
            if rng.random() < 0.45:
                spans.append(
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": f"page-{int(rng.integers(0, n_pages)):04d}",
                        "offset": off,
                    }
                )
            else:
                spans.append(
                    {
                        "kind": "text",
                        "text": make_text_span(rng),
                        "media_ref": None,
                        "offset": off,
                    }
                )
        docs.append({"doc_id": f"doc-{d:06d}", "spans": spans})
    return docs


def generate_dangling_docs(n_pages: int, n_docs: int = 12, seed: int = SEED):
    """Docs whose media spans include refs ABSENT from the media table
    (page index past the pool) — the 10^12-scale reality the pipeline must
    survive: extract_spans omits the dangling span (doc's other spans still
    emit) and the ocr_dangling_refs audit query counts what was dropped."""
    rng = np.random.default_rng(seed + 7_000_009)
    docs = []
    for d in range(n_docs):
        spans = []
        n_spans = int(rng.integers(2, 5))
        dangle_at = int(rng.integers(0, n_spans))
        for off in range(n_spans):
            if off == dangle_at or rng.random() < 0.2:
                # a ref past the page pool → no media row
                spans.append(
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": f"page-{n_pages + int(rng.integers(0, 5)):04d}",
                        "offset": off,
                    }
                )
            elif rng.random() < 0.5:
                spans.append(
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": f"page-{int(rng.integers(0, n_pages)):04d}",
                        "offset": off,
                    }
                )
            else:
                spans.append(
                    {
                        "kind": "text",
                        "text": make_text_span(rng),
                        "media_ref": None,
                        "offset": off,
                    }
                )
        docs.append({"doc_id": f"dang-{d:04d}", "spans": spans})
    return docs


# ---------------------------------------------------------------------------
# parquet writers
# ---------------------------------------------------------------------------

def _render_page_row(p: int):
    weights = _worker_weights()
    pixels, gt = render_page(p, weights)
    return (
        {
            "media_ref": f"page-{p:04d}",
            "width": int(pixels.shape[1]),
            "height": int(pixels.shape[0]),
            "channels": 1,
            "pixels": pixels.tobytes(),
        },
        {"media_ref": f"page-{p:04d}", "words": gt},
    )


_WEIGHTS_CACHE = {}


def _worker_weights():
    w = _WEIGHTS_CACHE.get("w")
    if w is None:
        w = build_weights()
        _WEIGHTS_CACHE["w"] = w
    return w


def write_fixtures(out_dir: str, n_docs: int = 200, n_pages: int = 60,
                   with_expected: bool = True) -> dict:
    """Generate and write docs/media/gt_pages(/expected_spans) parquet.
    Returns paths. Deterministic for fixed (n_docs, n_pages); page rendering
    is seeded per page index, so parallel generation is order-independent."""
    os.makedirs(out_dir, exist_ok=True)
    weights = build_weights()

    if n_pages >= 500:
        import multiprocessing as mp

        with mp.Pool(min(16, os.cpu_count() or 8)) as pool:
            rendered = pool.map(_render_page_row, range(n_pages), chunksize=32)
    else:
        rendered = [_render_page_row(p) for p in range(n_pages)]
    pages = [r[0] for r in rendered]
    gt_rows = [r[1] for r in rendered]

    docs = generate_docs(n_docs, n_pages)

    paths = {}

    media_tbl = pa.table(
        {
            "media_ref": [p["media_ref"] for p in pages],
            "width": pa.array([p["width"] for p in pages], pa.int32()),
            "height": pa.array([p["height"] for p in pages], pa.int32()),
            "channels": pa.array([p["channels"] for p in pages], pa.int32()),
            "pixels": pa.array([p["pixels"] for p in pages], pa.binary()),
        }
    )
    paths["media"] = os.path.join(out_dir, "media.parquet")
    # small row groups: page payloads compress ~20x (mostly white), and
    # parquet scans split at row-group granularity — one big row group would
    # serialize the scan (and the map side of the downstream shuffle) into a
    # single task no matter how many cores are available
    pq.write_table(media_tbl, paths["media"], row_group_size=8)

    docs_tbl = pa.table(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "spans": pa.array([d["spans"] for d in docs], pa.list_(SPAN_STRUCT)),
        }
    )
    paths["docs"] = os.path.join(out_dir, "docs.parquet")
    pq.write_table(docs_tbl, paths["docs"])

    word_struct = pa.struct(
        [
            ("polygon", pa.list_(pa.list_(pa.float64()))),
            ("text", pa.string()),
            ("line", pa.int32()),
            ("pos", pa.int32()),
        ]
    )
    gt_tbl = pa.table(
        {
            "media_ref": [g["media_ref"] for g in gt_rows],
            "words": pa.array([g["words"] for g in gt_rows], pa.list_(word_struct)),
        }
    )
    paths["gt_pages"] = os.path.join(out_dir, "gt_pages.parquet")
    pq.write_table(gt_tbl, paths["gt_pages"])

    # dangling-ref docs (kept OUT of docs.parquet: the single-process oracle
    # raises KeyError on a missing page — by design — so these live in their
    # own table for the pipeline's omit-and-audit path; see the divergence
    # note in pipeline.extract_spans)
    dangling = generate_dangling_docs(n_pages)
    dang_tbl = pa.table(
        {
            "doc_id": [d["doc_id"] for d in dangling],
            "spans": pa.array([d["spans"] for d in dangling], pa.list_(SPAN_STRUCT)),
        }
    )
    paths["docs_dangling"] = os.path.join(out_dir, "docs_dangling.parquet")
    pq.write_table(dang_tbl, paths["docs_dangling"])

    if with_expected:
        from .models.east_tiny import DetectorConfig
        from .oracle import decode_media, doc_to_spans, page_to_line_texts

        cfg = DetectorConfig(target_size=PAGE_SIZE)

        media_pixels = {
            p["media_ref"]: decode_media(
                p["pixels"], p["height"], p["width"], p["channels"]
            )
            for p in pages
        }
        # per-page oracle lines, ALL pages: the independent input the DuckDB
        # oracle uses to rebuild full span sequences in SQL (the text strip +
        # interleave + (offset, seq) sort happen engine-side in the SQL; only
        # the OCR line texts come from the single-process numpy oracle)
        page_cache = {
            ref: page_to_line_texts(img, weights, cfg)
            for ref, img in media_pixels.items()
        }
        lines_tbl = pa.table(
            {
                "media_ref": [r for r in sorted(page_cache) for _ in page_cache[r]],
                "line_idx": pa.array(
                    [i for r in sorted(page_cache) for i in range(len(page_cache[r]))],
                    pa.int32(),
                ),
                "text": [t for r in sorted(page_cache) for t in page_cache[r]],
            }
        )
        expected = []
        for d in docs:
            out_spans = doc_to_spans(
                d["spans"], media_pixels, weights, cfg, page_cache=page_cache
            )
            expected.append({"doc_id": d["doc_id"], "spans": out_spans})
        exp_tbl = pa.table(
            {
                "doc_id": [e["doc_id"] for e in expected],
                "spans": pa.array(
                    [e["spans"] for e in expected], pa.list_(OUT_SPAN_STRUCT)
                ),
            }
        )
        paths["expected_spans"] = os.path.join(out_dir, "expected_spans.parquet")
        pq.write_table(exp_tbl, paths["expected_spans"])
        # written LAST: ensure_tier uses this as the tier-complete marker
        paths["expected_page_lines"] = os.path.join(
            out_dir, "expected_page_lines.parquet"
        )
        pq.write_table(lines_tbl, paths["expected_page_lines"])

    return paths


def ensure_tier(tier: str = "sf-small", base_dir: str = None) -> str:
    """Idempotently materialize a fixture tier under <repo>/fixtures/<tier>
    (override with $MSOCR_FIXTURES_DIR)."""
    if base_dir is None:
        base_dir = os.environ.get("MSOCR_FIXTURES_DIR")
    if base_dir is None:
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        if os.path.isdir(pkg_parent):
            base_dir = os.path.join(pkg_parent, "fixtures")
        else:
            # package shipped as a --py-files zip: __file__ points inside the
            # archive, which is not a writable directory — fall back to a
            # stable tmp location (fixtures regenerate deterministically)
            import tempfile

            base_dir = os.path.join(tempfile.gettempdir(), "msocr_fixtures")
    out_dir = os.path.join(base_dir, tier)
    marker = os.path.join(out_dir, "expected_page_lines.parquet")
    sizes = {
        "sf-small": dict(n_docs=200, n_pages=60),
        "sf-bench": dict(n_docs=40000, n_pages=6000),
    }
    cfg = sizes[tier]
    if tier == "sf-bench":
        # bench tier reuses sf-small's page pool; expected oracle output is
        # only needed for the pytest invariant (sf-small)
        marker = os.path.join(out_dir, "docs.parquet")
        if not os.path.exists(marker):
            write_fixtures(out_dir, with_expected=False, **cfg)
        return out_dir
    if not os.path.exists(marker):
        write_fixtures(out_dir, with_expected=True, **cfg)
    return out_dir


def ensure_clustered_embeddings(base_dir: str = None, n: int = 2000,
                                k_true: int = 16, dim: int = 64,
                                sigma: float = 0.3, seed: int = 7) -> str:
    """Idempotently materialize a CLUSTERED embeddings fixture tier
    (round-5 verdict item 7): a deterministic Gaussian mixture — k_true
    well-separated centers, per-point noise sigma — written as
    <fixtures>/sf-ann-clustered-v1-<params>/embeddings.parquet with the same
    as the testdata embeddings table (vec_id, embedding float[], label).

    The testdata embeddings are i.i.d. random, so 64-d points are
    near-equidistant and IVF coverage recall there is the FLOOR, not the
    operating point; this tier provides the cluster structure production
    corpora actually have, and the ANN nprobe default is tuned against the
    coverage-recall curve measured on it (tools/ann_recall_curve.py,
    SURVEY §12). Returns the tier directory."""
    if base_dir is None:
        base_dir = os.environ.get("MSOCR_FIXTURES_DIR")
    if base_dir is None:
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        if os.path.isdir(pkg_parent):
            base_dir = os.path.join(pkg_parent, "fixtures")
        else:
            import tempfile

            base_dir = os.path.join(tempfile.gettempdir(), "msocr_fixtures")
    # generation parameters are part of the tier name (same rationale as
    # the ANN index dirs' build-constant keys): a call with different
    # n/k/dim/sigma/seed must never reuse a stale default-parameter tier
    out_dir = os.path.join(
        base_dir,
        f"sf-ann-clustered-v1-n{n}-k{k_true}-d{dim}-s{sigma:g}-r{seed}",
    )
    dest = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(dest):
        return out_dir
    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((k_true, dim)).astype(np.float64) * 2.0
    labels = np.arange(n) % k_true
    pts = centers[labels] + rng.standard_normal((n, dim)) * sigma
    tbl = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(
            [row.astype(np.float32) for row in pts],
            type=pa.list_(pa.float32()),
        ),
        "label": pa.array(labels.astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    tmp = dest + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, dest)
    return out_dir
