"""Deterministic glyph bank — the shared "model weights".

The sandbox has no torch and no network, so the reference's pretrained EAST /
TRBA weights (reference: infer.py:96-107, _trba/__init__.py:207-243 download
them at first use) cannot exist here. Instead the engine ships deterministic
seeded stand-in weights with the same I/O contracts (SURVEY.md §7.1 step 2):

  - a charset (reference charset format: specials first, then symbols;
    reference: _trba/configs/charset.txt + transforms.py:39-59), and
  - one 8×8 binary glyph per printable symbol, generated from a fixed seed
    with pairwise Hamming distance ≥ 16 so prototype matching is robust to
    resampling blur.

The fixture renderer draws words from these glyphs, and the TrbaTiny
recognizer matches crops against them — both sides of the invariant use this
exact bank, broadcast to executors as the north_rule's "model weights".
"""

from __future__ import annotations

import io

import numpy as np

from ..kernels.textproc import EOS, PAD, SOS, load_charset_lines

COARSE = 5        # coarse glyph grid; rendered glyphs are COARSE×2 = 10px.
                  # 2px minimum feature size keeps prototypes low-frequency,
                  # so resampling blur cannot flip matches (1px alternating
                  # patterns are the worst case under bilinear/area interp)
GLYPH_SIZE = COARSE * 2
SYMBOLS = "abcdefghijklmnopqrstuvwxyz0123456789"
CHARSET_LINES = [PAD, SOS, EOS] + list(SYMBOLS)
SEED = 42

# rendering constants (fixtures + recognizer must agree on the ratios)
INK = 20          # glyph ink pixel value
WORD_BG = 200     # word background rectangle value
PAGE_BG = 255     # page background
GLYPH_GAP_RATIO = 0.8    # inter-glyph gap = 0.8 * glyph cell (8px at cell 10)
WORD_PAD_RATIO = 0.2     # padding inside the word rect around the glyphs


def _gen_coarse_glyphs(rng: np.random.Generator) -> np.ndarray:
    """(len(SYMBOLS), COARSE, COARSE) uint8 coarse glyphs; ~40-65% ink, ink
    touching every border row/col (tight bounding boxes), pairwise Hamming
    distance as large as a bounded greedy search achieves (start at 8 of 25,
    relax by 1 every 20000 failed draws — deterministic for a fixed seed)."""
    glyphs = []
    cells = COARSE * COARSE
    min_d = 8
    attempts = 0
    while len(glyphs) < len(SYMBOLS):
        g = (rng.random((COARSE, COARSE)) < 0.5).astype(np.uint8)
        # force ink touching every border so the glyph bbox is exact
        g[0, 0] = 1
        g[-1, -1] = 1
        g[COARSE // 2, -1] = 1
        g[-1, 0] = 1
        ok = (
            int(cells * 0.4) <= g.sum() <= int(cells * 0.65)
            and all(int(np.sum(g != h)) >= min_d for h in glyphs)
        )
        if ok:
            glyphs.append(g)
            attempts = 0
        else:
            attempts += 1
            if attempts > 20000:
                min_d = max(1, min_d - 1)
                attempts = 0
    return np.stack(glyphs)


def _gen_glyphs(rng: np.random.Generator) -> np.ndarray:
    """(len(SYMBOLS), GLYPH_SIZE, GLYPH_SIZE) rendering glyphs: coarse
    patterns upsampled 2×."""
    coarse = _gen_coarse_glyphs(rng)
    return np.kron(coarse, np.ones((2, 2), dtype=np.uint8))


def build_weights() -> dict:
    """The broadcastable weights dict: charset + glyph bank + config."""
    rng = np.random.default_rng(SEED)
    glyphs = _gen_glyphs(rng)
    itos, stoi = load_charset_lines(CHARSET_LINES)
    return {
        "itos": itos,
        "stoi": stoi,
        "glyphs": glyphs,
        "pad_id": stoi[PAD],
        "sos_id": stoi[SOS],
        "eos_id": stoi[EOS],
        "blank_id": None,  # charset has no <BLANK>, like the reference default
        "max_len": 25,     # reference config.get("max_len", 25)
        "img_h": 64,       # reference recognizer input (config.json)
        "img_w": 256,
    }


def serialize_weights(weights: dict) -> bytes:
    """npz-serialize for spark-submit shipping / broadcast. Dispatches on
    weights['kind']: the stand-in glyph bank or a converted real-model
    checkpoint pair (loader.build_real_weights) — either way, ONE blob."""
    if weights.get("kind") == "real_models":
        from .loader import serialize_real_weights

        return serialize_real_weights(weights)
    buf = io.BytesIO()
    np.savez_compressed(
        buf,
        glyphs=weights["glyphs"],
        itos=np.array(weights["itos"], dtype=object),
        max_len=weights["max_len"],
        img_h=weights["img_h"],
        img_w=weights["img_w"],
    )
    return buf.getvalue()


def deserialize_weights(blob: bytes) -> dict:
    data = np.load(io.BytesIO(blob), allow_pickle=True)
    if "__real__" in data.files:
        from .loader import deserialize_real_weights

        return deserialize_real_weights(data)
    itos = [str(s) for s in data["itos"]]
    stoi = {s: i for i, s in enumerate(itos)}
    return {
        "itos": itos,
        "stoi": stoi,
        "glyphs": data["glyphs"],
        "pad_id": stoi[PAD],
        "sos_id": stoi[SOS],
        "eos_id": stoi[EOS],
        "blank_id": None,
        "max_len": int(data["max_len"]),
        "img_h": int(data["img_h"]),
        "img_w": int(data["img_w"]),
    }
