"""Query/operator registry: each module exposes QUERIES = {name: (builder,
duckdb_sql_or_None)}; builders take (spark, sf_dir) → DataFrame."""

from . import dedup, multimodal, ocr, relational, similarity, text

# The correctness gate covers the first WINDOW_SIZE entries of
# all_queries(), so window membership is this explicit list. Policy:
#   1. new or changed operators enter the next window;
#   2. the flagship OCR queries stay pinned;
#   3. the rest rotate: the longest-parked queries come back in place of
#      the rows that were green last time.
GATE_WINDOW = [
    # flagship (pinned)
    "ocr_extract_spans",
    "ocr_dangling_refs",
    "ocr_gt_geometry",
    "ocr_prepare_corpus",
    # new or changed operators
    "dedup_jaccard_verify",
    "dedup_ngram_jaccard_pairs",
    "dedup_components",
    "dedup_keep_list",
    "sim_semantic_dup_keep",
    "text_corpus_select",
    "text_mixture_plan",
    "text_mixture_draw",
    "text_prepare_corpus",
    "text_bpe_learn_merges",
    "text_bpe_learn_merges_batched",
    "text_bpe_tokenize_stats",
    "text_bpe_vocab",
    "text_bpe_encode",
    "text_bpe_pack_stats",
    "text_lm_logprob",
    "text_quality_report",
    "sim_semantic_contamination",
    # rotating
    "rel_pricing_summary",
    "rel_promo_revenue",
    "rel_supplier_value",
    "rel_session_windows",
    "rel_json_props_stats",
    "rel_source_lang_cube",
    "rel_asof_join",
    "rel_rollup_revenue",
    "rel_regional_revenue",
    "rel_salted_type_stats",
    "rel_sessionize",
    "rel_quantize_dedup",
    "rel_length_percentiles",
    "rel_anomaly_filter",
    "rel_window_rank",
    "rel_join_revenue",
    "sim_cosine_topk",
    "sim_knn_join",
    "sim_dup_keep_list",
    "sim_ivf_topk",
    "sim_cosine_dup_pairs",
    "sim_lsh_ann_topk",
    "sim_lsh_buckets",
    "mm_media_decode_stats",
    "mm_media_png_stats",
    "mm_media_prog_stats",
    "mm_audio_mp3_stats",
    "mm_video_mp4_stats",
]

WINDOW_SIZE = 50


def all_queries(resolve_sql: bool = False) -> dict:
    """Registry of (builder, sql) pairs: the GATE_WINDOW names first (in
    window order — the driver gate covers exactly that prefix), then
    every remaining query in module order. A callable sql entry (used by
    multimodal/ocr, whose SQL embeds a materialized fixture path) is kept
    lazy unless resolve_sql=True: queries()-only consumers (plan tests, the
    bench loop) must never trigger fixture materialization as a side effect
    of enumerating the registry — only oracle_sql() pays that cost."""
    pool = {}
    for mod in (ocr, multimodal, text, dedup, similarity, relational):
        for name, (builder, sql) in mod.QUERIES.items():
            assert name not in pool, f"duplicate query name {name}"
            pool[name] = (builder, sql)
    assert len(GATE_WINDOW) == WINDOW_SIZE, len(GATE_WINDOW)
    assert len(set(GATE_WINDOW)) == WINDOW_SIZE
    missing = [n for n in GATE_WINDOW if n not in pool]
    assert not missing, f"GATE_WINDOW names not in registry: {missing}"
    out = {}
    for name in GATE_WINDOW:
        out[name] = pool[name]
    for name, entry in pool.items():
        if name not in out:
            out[name] = entry
    if resolve_sql:
        out = {
            name: (builder, sql() if callable(sql) else sql)
            for name, (builder, sql) in out.items()
        }
    return out
