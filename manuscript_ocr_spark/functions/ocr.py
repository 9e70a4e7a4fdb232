"""The flagship extraction query + its hard DuckDB oracle, and the
dangling-ref audit companion.

ocr_extract_spans: the full detect → recognize → reorder → reassemble
pipeline (pipeline.extract_spans) over the deterministic fixture tier,
exploded to one row per output span. The DuckDB oracle REBUILDS the span
sequences independently in SQL: text spans are boilerplate-stripped with the
same regexes the engine uses (portability proven by the text_boilerplate_strip
oracle), OCR spans are joined from expected_page_lines.parquet — per-page
line texts produced by the single-process numpy oracle at fixture-generation
time (reference semantics: src/manuscript/_pipeline.py:56-176 + get_text
193-202) — and the interleave/sort by (offset, seq) happens engine-side in
the SQL. Only the per-page OCR line texts come from the numpy oracle; every
distributed step (strip, dedup-by-ref join, per-doc regroup, ordering) is
recomputed by DuckDB and hash-compared.

ocr_dangling_refs: the audit promised by extract_spans' divergence note — a
media span whose ref has no media row is OMITTED by the pipeline (the
single-process oracle raises KeyError instead); this query counts what was
dropped (refs LEFT ANTI media) so lineage can account for it at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _fixture_dir() -> str:
    from ..fixtures import ensure_tier

    return ensure_tier("sf-small")


def _strip_sql_expr(col: str) -> str:
    """DuckDB boilerplate-strip of `col` — same construction as
    functions.text._boilerplate_sql (regexes from kernels.textproc)."""
    from ..kernels.textproc import BOILERPLATE_TAGS, BOILERPLATE_TAG_RES

    expr = col
    for tag in BOILERPLATE_TAGS:
        pat = BOILERPLATE_TAG_RES[tag].replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat}', '', 'g')"
    return rf"trim(regexp_replace({expr}, '\s+', ' ', 'g'))"


# --- the flagship query -------------------------------------------------------

def extract_spans_query(spark, sf_dir):
    """The flagship OCR pipeline over the engine's deterministic fixture tier
    (sf_dir has no binary media). Exploded to one row per output span so the
    driver's row/hash compare is span-granular."""
    from ..pipeline import extract_spans, load_fixture_tables

    d = _fixture_dir()
    docs, media = load_fixture_tables(spark, d)
    out = extract_spans(docs, media)
    return out.select("doc_id", F.posexplode("spans").alias("pos", "s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
        F.col("s.seq").alias("seq"),
    )


def _extract_spans_sql() -> str:
    d = _fixture_dir()
    strip = _strip_sql_expr("s.text")
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(spans) AS s
  FROM read_parquet('{d}/docs.parquet')
),
txt AS (
  SELECT doc_id,
         'text' AS kind,
         {strip} AS text,
         CAST(NULL AS VARCHAR) AS media_ref,
         CAST(s."offset" AS INT) AS "offset",
         0 AS seq
  FROM raw WHERE s.kind = 'text'
),
med AS (
  SELECT r.doc_id,
         'ocr_line' AS kind,
         l.text AS text,
         r.s.media_ref AS media_ref,
         CAST(r.s."offset" AS INT) AS "offset",
         CAST(l.line_idx AS INT) AS seq
  FROM raw r
  JOIN read_parquet('{d}/expected_page_lines.parquet') l
    ON l.media_ref = r.s.media_ref
  WHERE r.s.kind = 'media'
)
SELECT doc_id, kind, text, media_ref, "offset", seq
FROM txt WHERE text IS NOT NULL AND length(text) > 0
UNION ALL
SELECT doc_id, kind, text, media_ref, "offset", seq FROM med
"""


# --- dangling-ref audit ---------------------------------------------------------

def dangling_refs(spark, sf_dir):
    """Media refs referenced by docs (incl. the dangling fixture docs) with
    no media row, and how many spans each drops. Scale shape: aggregate refs
    FIRST (distinct refs ≪ spans), then one keyed LEFT ANTI join against the
    media table — both sides hash-partitioned on media_ref, no broadcast of
    the (huge at 10^12) media side."""
    d = _fixture_dir()
    docs = spark.read.parquet(f"{d}/docs.parquet").unionByName(
        spark.read.parquet(f"{d}/docs_dangling.parquet")
    )
    media = spark.read.parquet(f"{d}/media.parquet")
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .groupBy("media_ref")
        .agg(F.count("*").cast("int").alias("n_spans"))
    )
    return refs.join(media.select("media_ref"), "media_ref", "left_anti")


def _dangling_refs_sql() -> str:
    d = _fixture_dir()
    return f"""
WITH refs AS (
  SELECT s.media_ref AS media_ref
  FROM (
    SELECT unnest(spans) AS s FROM read_parquet('{d}/docs.parquet')
    UNION ALL
    SELECT unnest(spans) AS s FROM read_parquet('{d}/docs_dangling.parquet')
  ) WHERE s.kind = 'media'
),
agg AS (SELECT media_ref, CAST(count(*) AS INT) AS n_spans FROM refs GROUP BY 1)
SELECT a.media_ref, a.n_spans
FROM agg a
WHERE NOT EXISTS (
  SELECT 1 FROM read_parquet('{d}/media.parquet') m
  WHERE m.media_ref = a.media_ref
)
"""


def gt_geometry(spark, sf_dir):
    """Oracle row for the round-4 §2.7 training kernels: per fixture page,
    GT word polygons are run through order_vertices_clockwise →
    shrink_poly(0.3) → shoelace area and quad_to_rbox, aggregated per
    media_ref. The fixture words are axis-aligned rectangles, so every
    kernel output has a CLOSED FORM the DuckDB oracle computes
    independently (shrunk area = (w − 0.3·√2·min(w,h))·(h − 0.3·√2·min);
    rbox = (x-extent, y-extent, angle 0)); per-word values are quantized
    half-up to 1e-4 and summed as int64 so both engines aggregate
    exactly."""
    import numpy as np
    import pandas as pd

    d = _fixture_dir()

    def _geom_udf(iterator):
        from ..kernels.geometry import (
            order_vertices_clockwise,
            polygon_area_batch,
            quad_to_rbox,
            shrink_poly,
        )

        for pdf in iterator:
            recs = []
            for ref, words in zip(pdf["media_ref"], pdf["words"]):
                n = 0
                area_q = 0
                w_q = 0
                h_q = 0
                for wd in words:
                    pts = np.array(
                        [list(p) for p in wd["polygon"]], dtype=np.float64
                    )  # Arrow hands back an object array of arrays
                    poly = order_vertices_clockwise(pts)
                    shr = shrink_poly(poly, 0.3, dtype=np.float64)
                    area = float(polygon_area_batch(shr[None])[0])
                    rb = quad_to_rbox(poly.ravel())
                    n += 1
                    area_q += int(np.floor(area * 10000 + 0.5))
                    w_q += int(np.floor(float(rb[2]) * 10000 + 0.5))
                    h_q += int(np.floor(float(rb[3]) * 10000 + 0.5))
                recs.append({
                    "media_ref": ref, "n_words": n,
                    "sum_shrunk_area": area_q / 10000.0,
                    "sum_rbox_w": w_q / 10000.0,
                    "sum_rbox_h": h_q / 10000.0,
                })
            yield pd.DataFrame(recs)

    gt = spark.read.parquet(f"{d}/gt_pages.parquet")
    gt = gt.repartition(spark.sparkContext.defaultParallelism, "media_ref")
    return gt.mapInPandas(
        _geom_udf,
        schema="media_ref string, n_words int, sum_shrunk_area double, "
               "sum_rbox_w double, sum_rbox_h double",
    )


def _gt_geometry_sql() -> str:
    d = _fixture_dir()
    return f"""
WITH w AS (
  SELECT media_ref,
         list_min([p[1] for p in wd.polygon]) AS x0,
         list_max([p[1] for p in wd.polygon]) AS x1,
         list_min([p[2] for p in wd.polygon]) AS y0,
         list_max([p[2] for p in wd.polygon]) AS y1
  FROM (SELECT media_ref, unnest(words) AS wd
        FROM read_parquet('{d}/gt_pages.parquet'))
),
g AS (
  SELECT media_ref,
         (x1 - x0) AS bw, (y1 - y0) AS bh,
         0.3 * sqrt(2.0) * least(x1 - x0, y1 - y0) AS c
  FROM w
),
q AS (
  SELECT media_ref,
         CAST(floor((bw - c) * (bh - c) * 10000 + 0.5) AS BIGINT) AS area_q,
         CAST(floor(bw * 10000 + 0.5) AS BIGINT) AS w_q,
         CAST(floor(bh * 10000 + 0.5) AS BIGINT) AS h_q
  FROM g
),
agg AS (
  SELECT media_ref,
         CAST(count(*) AS INT) AS n_words,
         sum(area_q) / 10000.0 AS sum_shrunk_area,
         sum(w_q) / 10000.0 AS sum_rbox_w,
         sum(h_q) / 10000.0 AS sum_rbox_h
  FROM q
  GROUP BY media_ref
)
SELECT p.media_ref,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.sum_shrunk_area, 0.0) AS sum_shrunk_area,
       coalesce(a.sum_rbox_w, 0.0) AS sum_rbox_w,
       coalesce(a.sum_rbox_h, 0.0) AS sum_rbox_h
FROM (SELECT media_ref FROM read_parquet('{d}/gt_pages.parquet')) p
LEFT JOIN agg a USING (media_ref)
"""


# --- extraction → training-corpus composition (round-6 verdict item 3) -------

def _extracted_docs(spark, sf_dir):
    """The OCR-extracted CORPUS as a (doc_id, text, source) relation: the
    flagship extraction's span stream regrouped per document — span texts
    concatenated in (offset, seq) order, source 'ocr' for documents that
    carry recognized page lines and 'digital' for born-digital text-only
    documents (the realistic mixture axis: OCR-derived text competes with
    clean text for the token budget)."""
    spans = extract_spans_query(spark, sf_dir)
    g = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("offset", "seq", "text"))).alias("sp"),
        F.max((F.col("kind") == "ocr_line").cast("int")).alias("has_ocr"),
    )
    return g.select(
        "doc_id",
        F.concat_ws(
            " ", F.transform("sp", lambda s: s["text"])).alias("text"),
        F.when(F.col("has_ocr") == 1, F.lit("ocr"))
        .otherwise(F.lit("digital")).alias("source"),
    )


def prepare_corpus_extracted(spark, sf_dir):
    """The production pipeline END-TO-END as one query (round-6 verdict
    item 3): extraction (detect → recognize → reorder → reassemble) →
    corpus selection (language/quality/duplication/canonical gates) →
    temperature mixture over the SURVIVING extracted token mass → the
    deterministic md5 draw. Every stage is its own oracle-checked
    registry operator; this composes them over the EXTRACTED corpus
    rather than the raw documents table — what a 100 TB training-data
    run actually executes — and its mirror nests the extraction oracle
    as a `documents` CTE that shadows the raw view, feeding the
    unchanged selection+mixture mirror text (the composition cannot
    drift from its parts).

    Plan shape: the extraction subtree (its own audited shape) feeds one
    (offset, seq)-sorted per-doc regroup; selection's doc_id-keyed signal
    joins and the mixture's K-source aggregation + broadcast ride on top
    — no exchanges beyond the parts' own."""
    from .text import prepare_training_corpus

    return prepare_training_corpus(
        spark, sf_dir, docs=_extracted_docs_materialized(spark, sf_dir))


def _extracted_docs_materialized(spark, sf_dir):
    """Materialize the extracted corpus once, keyed by the fixture tier's
    fingerprint (the bpe_build/ANN-index device): the selection+mixture
    composition joins the docs relation into ~6 signal subtrees, and an
    UN-materialized extraction subtree (with its Arrow detect/recognize
    stages) would be recomputed per branch — measured 42.8 s vs ~10 s for
    the same chain over a parquet-backed corpus in BENCH_r07's first
    draw. Materializing extraction output before corpus prep is also the
    production shape: a 100 TB run lands extracted text in the lake, then
    prepares corpora from the table."""
    import os
    import shutil

    from .similarity import _ann_index_dir, _gc_stale_tiers

    d = _fixture_dir()
    name = "extcorpus-r8a"
    # fingerprint EVERY input of the extraction (round-7 ADVICE: keying on
    # docs.parquet alone reused a stale extracted corpus when media or the
    # expected-lines table regenerated without touching docs)
    idx = _ann_index_dir(
        d, name,
        data_file=("docs.parquet", "media.parquet",
                   "expected_page_lines.parquet"))
    out = os.path.join(idx, "docs.parquet")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        os.makedirs(idx, exist_ok=True)
        _extracted_docs(spark, sf_dir).write.mode("overwrite").parquet(out)
        _gc_stale_tiers(idx)
        # a version bump strands every tier under the old name: best-effort
        # removal of the sibling extcorpus-* names
        root = os.path.dirname(os.path.dirname(idx))
        try:
            for sib in os.listdir(root):
                if sib.startswith("extcorpus-") and sib != name:
                    shutil.rmtree(os.path.join(root, sib), ignore_errors=True)
        except OSError:
            pass
    return spark.read.parquet(out)


def _prepare_corpus_extracted_sql() -> str:
    from .text import _prepare_corpus_sql

    ext = _extract_spans_sql()
    docs_cte = f"""documents AS (
  SELECT doc_id,
         string_agg(text, ' ' ORDER BY "offset", seq, text) AS text,
         CAST(NULL AS VARCHAR) AS lang,
         CASE WHEN max(CASE WHEN kind = 'ocr_line' THEN 1 ELSE 0 END) = 1
              THEN 'ocr' ELSE 'digital' END AS source
  FROM ({ext}) ex
  GROUP BY doc_id
),
"""
    return _prepare_corpus_sql(docs_prelude=docs_cte)


QUERIES = {
    "ocr_extract_spans": (extract_spans_query, _extract_spans_sql),
    "ocr_dangling_refs": (dangling_refs, _dangling_refs_sql),
    # closed-form oracle over axis-aligned GT rects for the §2.7 kernels
    "ocr_gt_geometry": (gt_geometry, _gt_geometry_sql),
    # the flagship composition: extraction → selection → mixing → draw
    "ocr_prepare_corpus": (prepare_corpus_extracted,
                           _prepare_corpus_extracted_sql),
}
