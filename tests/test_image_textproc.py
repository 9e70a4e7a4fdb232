"""Image + text kernel tests (resize/letterbox/crop, decode_tokens, strip),
plus the text corpus operators built on them (fingerprints, stratified
sampling, winnowing)."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from manuscript_ocr_spark.kernels import (
    decode_tokens,
    extract_word_image,
    lang_id,
    load_charset_lines,
    mean_prob_confidence,
    normalize_unit,
    quality_score,
    resize,
    resize_and_pad,
    strip_boilerplate,
    to_rgb,
    token_count,
)


# --- resize ---

def test_resize_identity():
    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    out = resize(img, 4, 4)
    np.testing.assert_array_equal(out, img)


def test_resize_area_integer_shrink_is_block_mean():
    img = np.zeros((4, 4), dtype=np.uint8)
    img[:2, :2] = 100
    out = resize(img, 2, 2, interp="area")
    assert out[0, 0] == 100 and out[1, 1] == 0


def test_resize_linear_upscale_constant():
    img = np.full((2, 2, 3), 7, dtype=np.uint8)
    out = resize(img, 8, 8, interp="linear")
    assert out.shape == (8, 8, 3)
    assert np.all(out == 7)


# --- resize_and_pad (ResizeAndPadA semantics, transforms.py:62-120) ---

def test_resize_and_pad_shapes_and_padding():
    img = np.zeros((32, 64, 3), dtype=np.uint8)  # dark crop
    out = resize_and_pad(img, img_h=64, img_w=256)
    assert out.shape == (64, 256, 3)
    # scale = min(64/32, 256/64) = 2 → resized 64x128, left-aligned,
    # vertically centered → right half is white padding
    assert np.all(out[:, 128:] == 255)
    assert np.all(out[:, :128] == 0)


def test_resize_and_pad_grayscale_input():
    # 2D letterboxes as 2D (single-channel fast path), values identical to
    # the replicated-RGB path
    img = np.zeros((10, 10), dtype=np.uint8)
    out = resize_and_pad(img, 64, 256)
    assert out.shape == (64, 256)
    rgb = resize_and_pad(np.repeat(img[:, :, None], 3, axis=2), 64, 256)
    np.testing.assert_array_equal(out, rgb[:, :, 0])


def test_resize_and_pad_tall_crop_centered():
    img = np.zeros((100, 10, 3), dtype=np.uint8)
    out = resize_and_pad(img, 64, 256)
    # scale = 64/100 → new_w = round(10*0.64)=6, left aligned; v center y0=0
    assert np.all(out[:, 6:] == 255)


def test_to_rgb_rgba():
    img = np.zeros((2, 2, 4), dtype=np.uint8)
    assert to_rgb(img).shape == (2, 2, 3)


# --- crop (reference _pipeline.py:204-221) ---

def test_extract_word_image_clamps():
    image = np.arange(100, dtype=np.uint8).reshape(10, 10)
    poly = np.array([[-5, -5], [15, -5], [15, 5], [-5, 5]])
    out = extract_word_image(image, poly)
    assert out.shape == (5, 10)


def test_extract_word_image_empty_none():
    image = np.zeros((10, 10), dtype=np.uint8)
    poly = np.array([[3, 3], [3, 3], [3, 3], [3, 3]])
    assert extract_word_image(image, poly) is None


def test_normalize_unit_range():
    img = np.array([[0, 255]], dtype=np.uint8)
    out = normalize_unit(img)
    np.testing.assert_allclose(out, [[-1.0, 1.0]])


# --- charset / decode_tokens (transforms.py:39-59, 196-206) ---

def test_load_charset_skips_blank_lines():
    itos, stoi = load_charset_lines(["<PAD>\n", "<SOS>\n", "<EOS>\n", "", "a\n", "b"])
    assert itos == ["<PAD>", "<SOS>", "<EOS>", "a", "b"]
    assert stoi["a"] == 3


def test_decode_tokens_stops_at_eos_skips_pad():
    itos = ["<PAD>", "<SOS>", "<EOS>", "a", "b", "c"]
    ids = [3, 0, 4, 2, 5, 5]
    assert decode_tokens(ids, itos, pad_id=0, eos_id=2) == "ab"


def test_decode_tokens_blank_skipped():
    itos = ["<PAD>", "<SOS>", "<EOS>", "<BLANK>", "a"]
    ids = [4, 3, 4, 2]
    assert decode_tokens(ids, itos, pad_id=0, eos_id=2, blank_id=3) == "aa"


def test_mean_prob_confidence():
    # log-probs: token 0 at t=0 has logp=0 → p=1; token 1 at t=1 logp=-inf→0
    row = np.log(np.array([[1.0, 1e-300], [1e-300, 0.5]]))
    conf = mean_prob_confidence(row, [0, 1])
    assert conf == pytest.approx(0.75)
    assert mean_prob_confidence(row, []) == 0.0


# --- boilerplate strip ---

def test_strip_boilerplate_blocks():
    text = "Intro {{nav}}home | about{{/nav}} body   text {{footer}}(c) 2026{{/footer}} end"
    assert strip_boilerplate(text) == "Intro body text end"


def test_strip_boilerplate_multiline_and_multiple():
    text = "{{header}}\nBig\nBanner\n{{/header}}keep {{ad}}buy!{{/ad}} this"
    assert strip_boilerplate(text) == "keep this"


def test_strip_boilerplate_no_markers():
    assert strip_boilerplate("  plain\t text\n") == "plain text"


def test_strip_boilerplate_unclosed_marker_kept():
    assert strip_boilerplate("a {{nav}} b") == "a {{nav}} b"


# --- text analysis ---

def test_lang_id():
    assert lang_id("the cat and the dog is in the house") == "en"
    assert lang_id("der hund und die katze ist nicht da und der") == "de"
    assert lang_id("zzz qqq xxx") == "und"
    assert lang_id("") == "und"


def test_token_count():
    assert token_count("a b  c") == 3
    assert token_count("   ") == 0
    assert token_count("") == 0


def test_quality_score_bounds():
    assert quality_score("") == 0.0
    s = quality_score("the quick brown fox jumps over the lazy dog")
    assert 0.0 < s <= 1.0


def test_media_frame_sample_shape_and_determinism(spark):
    """Frame-sampling plumbing: every 2nd FRAME_HEIGHT-row band per page,
    frame bytes deterministic across runs, fan-out row counts exact."""
    from manuscript_ocr_spark.fixtures import ensure_tier
    from manuscript_ocr_spark.functions.multimodal import (
        FRAME_HEIGHT,
        FRAME_STRIDE,
        media_frame_sample,
        _frame_sample_udf,
    )

    d = ensure_tier("sf-small")
    media = spark.read.parquet(f"{d}/media.parquet")
    out = media_frame_sample(spark, d).collect()

    import math

    expected = sum(
        math.ceil((r["height"] // FRAME_HEIGHT) / FRAME_STRIDE)
        for r in media.select("height").collect()
    )
    assert len(out) == expected
    assert all(r["frame_idx"] % FRAME_STRIDE == 0 for r in out)

    full = media.mapInPandas(
        _frame_sample_udf, schema="media_ref string, frame_idx int, frame binary"
    )
    a = {(r["media_ref"], r["frame_idx"]): r["frame"] for r in full.collect()}
    b = {(r["media_ref"], r["frame_idx"]): r["frame"] for r in full.collect()}
    assert a == b and len(a) == expected


def test_lm_logprob_scores_orders_common_vs_rare(spark):
    """The unigram surprisal signal must behave like an LM quality
    score: a doc of corpus-frequent tokens scores fewer mean bits than
    a doc of rare tokens, and every score is positive with the doc's
    token count reported."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.text import lm_logprob_scores

    sf = "/root/testdata/sf0.01"
    out = lm_logprob_scores(spark, sf)
    rows = {int(r["doc_id"]): (int(r["n_tokens"]), float(r["mean_bits"]))
            for r in out.collect()}
    assert len(rows) == 500
    assert all(n > 0 and b > 0 for n, b in rows.values())

    # rank-correlate against an independent numpy recomputation extreme:
    # the doc with the most-common tokens must not out-surprise the doc
    # with the rarest tokens
    import collections
    import math

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf}/documents.parquet",
                        columns=["doc_id", "text"])
    cnt = collections.Counter()
    docs = {}
    for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        words = [w for w in (t or "").strip().split() if w]
        if words:
            docs[d] = words
            cnt.update(words)
    n_total = sum(cnt.values())
    v = len(cnt)
    bits = {
        d: sum(-(math.log(cnt[w] + 1) - math.log(n_total + v))
               / math.log(2) for w in ws) / len(ws)
        for d, ws in docs.items()
    }
    for d, want in bits.items():
        assert abs(rows[d][1] - want) < 5e-4, d


def test_quality_report_reconciles_with_parts(spark):
    """The per-source dashboard must reconcile exactly with its parts:
    keep counts against corpus_select, token mass against the LM scores,
    and every source present."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.text import (
        corpus_quality_report,
        corpus_select,
        lm_logprob_scores,
    )

    sf = "/root/testdata/sf0.01"
    rep = {r["source"]: r for r in
           corpus_quality_report(spark, sf).collect()}
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    srcs = {r["source"]: int(r["n"]) for r in
            docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(rep) == set(srcs)

    kept = corpus_select(spark, sf).filter(F.col("keep")).join(
        docs.select("doc_id", "source"), "doc_id")
    kept_by_src = {r["source"]: int(r["n"]) for r in
                   kept.groupBy("source").agg(
                       F.count("*").alias("n")).collect()}
    toks = lm_logprob_scores(spark, sf).join(
        docs.select("doc_id", "source"), "doc_id")
    toks_by_src = {r["source"]: int(r["n"]) for r in
                   toks.groupBy("source").agg(
                       F.sum("n_tokens").alias("n")).collect()}
    for src, r in rep.items():
        assert int(r["n_docs"]) == srcs[src]
        assert int(r["n_kept"]) == kept_by_src.get(src, 0)
        assert int(r["n_tokens"]) == toks_by_src.get(src, 0)
        assert 0.0 <= float(r["keep_rate"]) <= 1.0
        assert float(r["mean_bits"]) > 0


@pytest.fixture(scope="module")
def edge_docs_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("edge") / "sf-edge"
    out.mkdir(parents=True)
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d2", "d3", "d4", "d5"],
            "text": ["one two", "", None, "a b c d e", "  solo  "],
            "lang": ["en", "en", "de", "en", "fr"],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(out / "documents.parquet")
    )
    return str(out)


def test_fingerprints_short_and_null_docs(spark, edge_docs_dir):
    """Docs with <3 tokens must not crash (sequence(1, n<1) descends) and
    must hash-match the DuckDB oracle, including NULL text."""
    from manuscript_ocr_spark.functions.text import FINGERPRINT_SQL, fingerprints

    got = {
        r["doc_id"]: (r["text_md5"], r["min_shingle_md5"])
        for r in fingerprints(spark, edge_docs_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{edge_docs_dir}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: (r[1], r[2]) for r in con.execute(FINGERPRINT_SQL).fetchall()
    }
    assert got == want
    assert got["d3"] == (None, None)  # NULL text
    assert got["d1"][1] is None  # 2 tokens → no shingle
    assert got["d4"][1] is not None


def test_stratified_sample_scale_path(spark):
    """The scale path (threshold prefilter + bounded window) must equal the
    window form bit-for-bit, and its plan must filter BEFORE the Window —
    never a per-stratum sort of the full table (VERDICT r3 item #4)."""
    import io
    from contextlib import redirect_stdout

    from manuscript_ocr_spark.functions.text import (
        _stratified_window_form,
        stratified_sample,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        got = sorted(
            tuple(r) for r in stratified_sample(spark, sf).collect()
        )
        want = sorted(
            tuple(r) for r in _stratified_window_form(docs).collect()
        )
        assert got == want and len(got) > 0

    q = stratified_sample(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    # the Window's input is the prefiltered scan: the md5-prefix filter is
    # in the plan, below (after, in formatted order) the Window node
    assert "Window" in plan and "substring" in plan
    w_pos = plan.index("Window")
    f_pos = plan.index("substring")
    assert f_pos > w_pos  # formatted output lists children after parents


def test_stratified_sample_widen_retry_path(spark, monkeypatch):
    """Exactness is guaranteed by the verify-and-widen loop, not by the
    md5-uniformity assumption: force a pathologically small initial
    oversample so the first threshold keeps too few rows, and assert the
    retry still converges to the exact window-form output."""
    import manuscript_ocr_spark.functions.text as t

    monkeypatch.setattr(t, "SAMPLE_OVERSAMPLE", 0.05)
    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in t.stratified_sample(spark, sf).collect())
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    want = sorted(tuple(r) for r in t._stratified_window_form(docs).collect())
    assert got == want and len(got) > 0


def test_winnowing_overlap_guarantee(spark, tmp_path):
    """Schleimer et al.'s core property: two documents sharing a verbatim
    substring of ≥ k+w−1 chars MUST share at least one winnowing
    fingerprint; unrelated random docs (distinct alphabets) share none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    shared = "the archbishop canonized zygomorphic flowers quickly"
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    docs = [
        (0, "aaaa bbbb cccc " + shared + " dddd eeee"),
        (1, shared + " ffff gggg hhhh iiii jjjj kkkk"),
        (2, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/documents.parquet")

    # expose the fingerprint SETS (the registered query returns summaries)
    base = winnowing_fingerprints(spark, str(tmp_path))
    # rebuild sets through the same expressions by re-deriving fp
    from manuscript_ocr_spark.functions import text as T

    kg, w = T.WINNOW_K, T.WINNOW_W
    hashes = (
        f"transform(sequence(1, length(text) - {kg - 1}), "
        f"i -> aggregate(sequence(0, {kg - 1}), 0L, "
        f"(acc, j) -> (acc * {T.WINNOW_B} + ascii(substr(text, i + j, 1))) % {T.WINNOW_M}))"
    )
    mins = (
        f"transform(sequence(1, size(hs) - {w - 1}), "
        f"p -> array_min(slice(hs, p, {w})))"
    )
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in spark.read.parquet(f"{tmp_path}/documents.parquet")
        .withColumn("hs", F.expr(hashes))
        .withColumn("fp", F.array_distinct(F.expr(mins)))
        .select("doc_id", "fp")
        .collect()
    }
    assert fps[0] & fps[1], "overlapping docs must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])
    assert base.count() == 3
