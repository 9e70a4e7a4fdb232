"""Weights-loader contract (SURVEY.md §9.4): a real EAST/TRBA checkpoint
swap must be data-only. Validates the declared reference layouts
(east.py:13-108, model.py:10-74), the fail-fast rejection paths, and the
broadcast npz round-trip."""

import numpy as np
import pytest

from manuscript_ocr_spark.models.loader import (
    build_real_weights,
    convert_state_dict,
    deserialize_model_weights,
    east_manifest,
    serialize_model_weights,
    synthetic_state_dict,
    trba_manifest,
)


def test_east_roundtrip_with_backbone_passthrough():
    sd = synthetic_state_dict(east_manifest())
    sd["backbone.extractor.conv1.weight"] = np.zeros((64, 3, 7, 7), np.float16)
    sd["decoder.block1.conv1x1.1.num_batches_tracked"] = np.array(12)
    w = convert_state_dict(sd, "east")
    assert w["kind"] == "east_state"
    assert "decoder.block1.conv1x1.1.num_batches_tracked" not in w["tensors"]
    assert w["tensors"]["backbone.extractor.conv1.weight"].dtype == np.float32
    back = deserialize_model_weights(serialize_model_weights(w))
    assert back["kind"] == "east_state"
    assert set(back["tensors"]) == set(w["tensors"])
    for k in w["tensors"]:
        np.testing.assert_array_equal(back["tensors"][k], w["tensors"][k])


def test_trba_roundtrip_carries_charset():
    charset = ["<PAD>", "<SOS>", "<EOS>", "a", "b", "c"]
    sd = synthetic_state_dict(trba_manifest(32, len(charset)))
    sd["cnn.layer1.0.conv1.weight"] = np.zeros((16, 3, 3, 3), np.float32)
    w = convert_state_dict(sd, "trba", charset=charset, hidden_size=32)
    back = deserialize_model_weights(serialize_model_weights(w))
    assert back["itos"] == charset and back["stoi"]["a"] == 3
    # attention input_size defaults to hidden_size (model.py:371)
    assert back["hidden_size"] == 32 and back["input_size"] == 32
    assert back["tensors"]["attn.generator.weight"].shape == (6, 32)
    assert "cnn.layer1.0.conv1.weight" in back["tensors"]


def test_shape_mismatch_and_unknown_key_fail_fast():
    sd = synthetic_state_dict(east_manifest())
    sd["output_head.geo_map.weight"] = np.zeros((9, 32, 1, 1), np.float32)
    with pytest.raises(ValueError, match="shape"):
        convert_state_dict(sd, "east")
    sd = synthetic_state_dict(east_manifest())
    sd["detector.head.weight"] = np.zeros((1,), np.float32)
    with pytest.raises(ValueError, match="unexpected key"):
        convert_state_dict(sd, "east")
    sd = synthetic_state_dict(east_manifest())
    del sd["output_head.score_map.bias"]
    with pytest.raises(ValueError, match="missing"):
        convert_state_dict(sd, "east")
    with pytest.raises(ValueError, match="charset"):
        convert_state_dict({}, "trba")


def test_manifest_shapes_match_reference_wiring():
    """Spot-pin the transcription: decoder block2 consumes 512+1024 channels
    (east.py:76-78), attention LSTMCell consumes input+num_classes with
    input = hidden_size (model.py:30,371), two stacked encoder BiLSTMs
    (model.py:367-370)."""
    m = east_manifest()
    assert m["decoder.block2.conv1x1.0.weight"] == (256, 1536, 1, 1)
    assert m["output_head.geo_map.weight"] == (8, 32, 1, 1)
    t = trba_manifest(hidden_size=256, num_classes=100)
    assert t["attn.attention_cell.rnn.weight_ih"] == (1024, 356)
    assert t["attn.attention_cell.i2h.weight"] == (256, 256)
    assert t["enc_rnn.0.rnn.weight_ih_l0"] == (1024, 512)
    assert t["enc_rnn.0.rnn.weight_ih_l0_reverse"] == (1024, 512)
    assert t["enc_rnn.1.rnn.weight_ih_l0"] == (1024, 256)
    assert t["enc_rnn.1.linear.weight"] == (256, 512)


def test_trba_manifest_keys_match_reference_source():
    """Pin key names against the reference model source itself (ADVICE r2:
    the previous manifest used clovaai-style names absent from the
    reference). Every manifest key's module path must appear as an attribute
    chain in model.py: TRBAModel declares self.cnn / self.enc_rnn (Sequential
    of 2) / self.attn; Attention declares attention_cell + generator;
    AttentionCell declares i2h / h2h / score / rnn."""
    import os

    src_path = "/root/reference/src/manuscript/recognizers/_trba/model/model.py"
    if not os.path.exists(src_path):
        pytest.skip("reference tree not available")
    src = open(src_path).read()
    for attr in ("cnn", "enc_rnn", "attn"):
        assert f"self.{attr} = " in src
    for attr in ("attention_cell", "generator", "i2h", "h2h", "score", "rnn"):
        assert f"self.{attr} = " in src
    # names the old (wrong) manifest used must NOT exist in the reference
    for bogus in ("Prediction", "SequenceModeling", "FeatureExtraction"):
        assert bogus not in src
    # every manifest key starts with a declared top-level module
    t = trba_manifest(hidden_size=8, num_classes=5)
    for key in t:
        assert key.startswith(("attn.attention_cell.", "attn.generator.",
                               "enc_rnn.0.", "enc_rnn.1.")), key


CHARSET = ["<PAD>", "<SOS>", "<EOS>"] + list("abc")


def _real_weights(hidden=16):
    east_sd = synthetic_state_dict(east_manifest())
    trba_sd = synthetic_state_dict(trba_manifest(hidden, len(CHARSET)))
    return build_real_weights(east_sd, trba_sd, CHARSET, hidden_size=hidden)


def test_real_weights_broadcast_roundtrip():
    """The combined checkpoint pair ships as ONE npz blob through the same
    serialize/deserialize the stand-in bank uses."""
    from manuscript_ocr_spark.models.glyphs import (
        deserialize_weights,
        serialize_weights,
    )

    w = _real_weights()
    back = deserialize_weights(serialize_weights(w))
    assert back["kind"] == "real_models"
    assert back["itos"] == CHARSET
    assert back["trba"]["hidden_size"] == 16 and back["trba"]["max_len"] == 25
    assert set(back["east"]["tensors"]) == set(w["east"]["tensors"])
    assert set(back["trba"]["tensors"]) == set(w["trba"]["tensors"])
    np.testing.assert_array_equal(
        back["east"]["tensors"]["output_head.geo_map.weight"],
        w["east"]["tensors"]["output_head.geo_map.weight"],
    )


def test_real_models_fail_fast_on_driver():
    """extract_spans(weights=real) must raise on the driver, before any job
    is submitted, when the checkpoint has no runnable backbone (a
    manifest-only checkpoint with no backbone.* tensors cannot run)."""
    from manuscript_ocr_spark.fixtures import ensure_tier
    from manuscript_ocr_spark.pipeline import extract_spans, load_fixture_tables
    from manuscript_ocr_spark.session import get_spark

    spark = get_spark(app_name="twins-failfast")
    docs, media = load_fixture_tables(spark, ensure_tier("sf-small"))
    with pytest.raises(ValueError, match="backbone"):
        extract_spans(docs, media, weights=_real_weights())
