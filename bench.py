"""Bench harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = documents/sec of the flagship extraction pipeline (detect + recognize
+ span-reassemble) over the sf-bench fixture tier (40k interleaved docs,
6000 distinct pages) — the BASELINE.json target metric. queries = wall seconds
per headline query at the testdata SF. Scaling-efficiency evidence
(local[8] vs local[32]) is produced by tools/bench_scaling.py into
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "rel_pricing_summary",
    "rel_join_revenue",
    "rel_regional_revenue",
    "rel_window_rank",
    "rel_hourly_events",
    "rel_asof_join",
    "rel_session_windows",
    "rel_event_funnel",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_jaccard_verify",
    "dedup_components",
    "dedup_contamination",
    "dedup_simhash16",
    "dedup_simhash_pairs",
    "sim_cosine_topk",
    "sim_lsh_ann_topk",
    "sim_ivf_topk",
    "sim_ivf_kmeans_topk",
    "sim_ivfpq_topk",
    "sim_ivfpq_knn_join",
    "sim_ivf_kmeans_knn_join",
    "sim_two_stage_topk",
    "sim_two_stage_knn_join",
    "sim_index_cell_stats",
    "sim_semantic_dup_pairs",
    "sim_semantic_dup_keep",
    "sim_knn_join",
    "rel_json_props_stats",
    "rel_source_lang_cube",
    "text_paragraph_dedup",
    "text_corpus_select",
    "text_boilerplate_strip",
    "text_lang_id",
    "text_fingerprints",
    "text_bpe_token_stats",
    "text_stratified_sample",
    "text_pii_scrub",
    "text_repetition_scores",
    # round-7 registrations
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
    "ocr_prepare_corpus",
    "mm_media_prog_stats",
    "mm_audio_mp3_stats",
    "mm_video_mp4_stats",
    "mm_video_mp4_frames",
    "mm_audio_mp3_frames",
    "mm_video_mp4_pcm_stats",
]


def run_extraction(spark, tier: str = "sf-bench") -> tuple[float, int]:
    """End-to-end extraction (incl. parquet sink) → (seconds, n_docs)."""
    from manuscript_ocr_spark.fixtures import ensure_tier
    from manuscript_ocr_spark.pipeline import extract_spans, load_fixture_tables

    d = ensure_tier(tier)
    docs, media = load_fixture_tables(spark, d)
    n_docs = docs.count()
    out_dir = tempfile.mkdtemp(prefix="msocr_bench_")
    try:
        t0 = time.time()
        extract_spans(docs, media).write.mode("overwrite").parquet(
            f"{out_dir}/out"
        )
        dt = time.time() - t0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return dt, n_docs


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from manuscript_ocr_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(master=f"local[{cpus}]", app_name="msocr-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry.queries()
    # warm the session once (JVM JIT, parquet footers, codegen cache) so the
    # first timed query is not charged for one-time startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # the two trained-ANN queries have a materialized index build step:
    # evict any pre-existing index and time the COLD BUILD as its own
    # headline row (round-5 verdict item 5 — one-time cost, and the number
    # that swung 12–33 s across co-tenant windows), so the sim_*_topk rows
    # below time pure search and compare like-for-like across rounds
    from manuscript_ocr_spark.functions import similarity as _sim

    per_query = {}
    from manuscript_ocr_spark.functions import text as _text

    for bname, builder, idx in (
        ("sim_ivfpq_build", _sim.ivfpq_build, _sim._ivfpq_index_dir(sf_dir)),
        ("sim_ivf_kmeans_build", _sim.ivf_kmeans_build,
         _sim._ivfkm_index_dir(sf_dir)),
        # the BPE training artifact follows the same cold-build-as-its-
        # own-row convention (round-5 verdict item 5's lesson): the
        # text_bpe_* rows below then time reads/applications, comparable
        # across rounds
        ("text_bpe_build", _text.bpe_build,
         _sim._ann_index_dir(
             sf_dir, f"bpe-{_text.BPE_INDEX_VERSION}-N{_text.BPE_MERGES}",
             data_file="documents.parquet")),
    ):
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        builder(spark, sf_dir)
        per_query[bname] = round(time.time() - t0, 3)
    # kept for cross-round row-name continuity (≡ the *_topk rows now that
    # the build is evicted+timed separately above)
    search_only = {
        "sim_ivfpq_topk": "sim_ivfpq_search_only",
        "sim_ivf_kmeans_topk": "sim_ivf_kmeans_search_only",
    }
    for name in HEADLINE:
        builder = queries[name]
        t0 = time.time()
        df = builder(spark, sf_dir)
        n = df.count()
        per_query[name] = round(time.time() - t0, 3)
        if name in search_only:
            t0 = time.time()
            builder(spark, sf_dir).count()   # index present → pure search
            per_query[search_only[name]] = round(time.time() - t0, 3)

    # the headline draw has been the noisiest number three rounds running
    # (r4 21.4 s / r5 15.1 s / r6 18.6 s on near-identical code, all
    # window noise on later re-measurement) — so report a BAND, not a
    # point (round-6 verdict item 5): three reps within this one session,
    # value = median, min recorded alongside
    import statistics

    ext_times = []
    n_docs = 0
    for _ in range(3):
        ext_sec, n_docs = run_extraction(spark, "sf-bench")
        ext_times.append(round(ext_sec, 3))
    ext_med = statistics.median(ext_times)
    ext_min = min(ext_times)
    per_query["ocr_extract_spans_bench"] = ext_med
    per_query["ocr_extract_spans_bench_min"] = ext_min
    docs_per_sec = n_docs / ext_med

    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": f"end-to-end extraction wall time (detect+recognize+span-reassemble, {n_docs} interleaved docs / 6000 pages; median of 3 in-session reps) + headline query secs",
                "value": ext_med,
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "extraction_docs": n_docs,
                "extraction_reps_sec": ext_times,
                "docs_per_sec": round(docs_per_sec, 2),
                "docs_per_sec_best": round(n_docs / ext_min, 2),
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
