"""Seeded inputs for the benchmark workloads, cached per seed.

Every table is a pure function of (workload, seed). The first run with a seed
writes the tables and the oracle's expected output under
``<data>/inputs/<workload>-s<seed>-<INPUTS_VERSION>/``; later runs with the same
seed reuse them. None of this is timed.

- ``extract_pages``: a pool of distinct pages from ``fixtures.render_page``
  and docs from ``fixtures.generate_docs`` (about 45% media spans). The seed
  offsets the render index, so each seed gives different pages under the same
  ``page-NNNN`` refs. Every pool holds render_page's natural mix in fixed
  counts (5% empty, 5% dense, 5% anomaly, 7% containment, ~9% half-size, the
  rest normal), so seeds change the content of the pages and not how much
  OCR work they carry.
- ``extract_text_checkpointed``: the same page kind, but a text-heavy corpus
  (about 90% text spans built with ``fixtures.make_text_span``) over a small
  pool, so every page is referenced by about forty docs.
- ``corpus_ops``: a seeded synthetic corpus with the schema of the relational
  test tables (documents, embeddings, orders, lineitem, ...), written as
  parquet. The registered ``functions.*`` builders read it as their ``sf_dir``.

Expected extraction output comes from ``oracle.page_to_line_texts`` (one call
per distinct page, in at most nproc worker processes) and
``oracle.doc_to_spans``; it is stored as one span-sequence digest per doc
(``check.doc_digest``) plus the per-page line texts.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from check import doc_digest

INPUTS_VERSION = "v3"
# render index offset per seed: pools stay far below this many pages, so two
# seeds never share a rendered page
SEED_STRIDE = 100_003

SIZES = {
    "extract_pages": dict(n_pages=160, n_docs=1600, media_p=None),
    "extract_text_checkpointed": dict(n_pages=64, n_docs=8000, media_p=0.10),
}
CORPUS_SIZES = dict(documents=1000, embeddings=800, customer=300, orders=3000,
                    lineitem=12000, part=400, supplier=40, events=4000)


# render_page's kind probabilities; "half" is a half-size normal page
PAGE_MIX = (("empty", 0.05), ("dense", 0.05), ("anomaly", 0.05),
            ("containment", 0.07), ("half", 0.78 * 0.12))


def page_kind(render_idx: int) -> str:
    """The kind fixtures.render_page draws for an index (its first draws)."""
    from manuscript_ocr_spark.fixtures import SEED

    rng = np.random.default_rng(SEED + render_idx)
    r, edge = rng.random(), 0.0
    for kind, p in PAGE_MIX[:4]:
        edge += p
        if r < edge:
            return kind
    return "half" if rng.random() < 0.12 else "normal"


def pool_indices(seed: int, n_pages: int) -> list:
    """Render indices of a seed's pool: the first indices from the seed's
    offset that fill the PAGE_MIX quotas."""
    quota = {kind: round(p * n_pages) for kind, p in PAGE_MIX}
    quota["normal"] = n_pages - sum(quota.values())
    out, idx = [], seed * SEED_STRIDE
    while len(out) < n_pages:
        kind = page_kind(idx)
        if quota[kind] > 0:
            quota[kind] -= 1
            out.append(idx)
        idx += 1
    return out


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

def page_row(render_idx: int, p: int):
    """Media row dict of pool page ``p`` (rendered from ``render_idx``) and
    the oracle's line texts for it."""
    from manuscript_ocr_spark.fixtures import PAGE_SIZE, _worker_weights, render_page
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import decode_media, page_to_line_texts

    weights = _worker_weights()
    gray, _ = render_page(render_idx, weights)
    row = {
        "media_ref": f"page-{p:04d}",
        "width": int(gray.shape[1]),
        "height": int(gray.shape[0]),
        "channels": 1,
        "pixels": gray.tobytes(),
    }
    image = decode_media(row["pixels"], row["height"], row["width"], 1)
    lines = page_to_line_texts(image, weights, DetectorConfig(target_size=PAGE_SIZE))
    return row, list(lines)


def _page_row(args):
    return page_row(*args)


def render_pages(seed: int, n_pages: int):
    """All pages of a seed's pool → (media rows, {media_ref: line texts}),
    rendered by at most nproc worker processes."""
    import multiprocessing

    jobs = [(idx, p) for p, idx in enumerate(pool_indices(seed, n_pages))]
    # fork, not spawn: inputs are made before the JVM gateway or any other
    # thread starts, and a spawn pool would leave multiprocessing's resource
    # tracker process running until the benchmark exits
    with multiprocessing.get_context("fork").Pool(len(os.sched_getaffinity(0))) as pool:
        out = pool.map(_page_row, jobs, chunksize=8)
    rows = [r for r, _ in out]
    return rows, {r["media_ref"]: lines for r, lines in out}


def media_table(rows) -> pa.Table:
    return pa.table({
        "media_ref": [r["media_ref"] for r in rows],
        "width": pa.array([r["width"] for r in rows], pa.int32()),
        "height": pa.array([r["height"] for r in rows], pa.int32()),
        "channels": pa.array([r["channels"] for r in rows], pa.int32()),
        "pixels": pa.array([r["pixels"] for r in rows], pa.binary()),
    })


# ---------------------------------------------------------------------------
# docs
# ---------------------------------------------------------------------------

def text_heavy_docs(n_docs: int, n_pages: int, seed: int, media_p: float):
    """Like fixtures.generate_docs, but a span is media with probability
    ``media_p`` only; the rest are boilerplate-tagged text spans."""
    from manuscript_ocr_spark.fixtures import make_text_span

    rng = np.random.default_rng(seed + 2_000_029)
    docs = []
    for d in range(n_docs):
        spans = []
        for off in range(int(rng.integers(1, 7))):
            if rng.random() < media_p:
                spans.append({"kind": "media", "text": None, "offset": off,
                              "media_ref": f"page-{int(rng.integers(0, n_pages)):04d}"})
            else:
                spans.append({"kind": "text", "text": make_text_span(rng),
                              "media_ref": None, "offset": off})
        docs.append({"doc_id": f"doc-{d:06d}", "spans": spans})
    return docs


def expected_digests(docs, page_lines) -> dict:
    """doc_id → span-sequence digest of the oracle's output."""
    from manuscript_ocr_spark.oracle import doc_to_spans

    # every page is in the cache, so doc_to_spans never needs pixels/weights
    cache = dict(page_lines)
    return {d["doc_id"]: doc_digest(doc_to_spans(d["spans"], {}, None, None,
                                                 page_cache=cache))
            for d in docs}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def _commit(tmp: str, final: str):
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


def extraction_inputs(data_dir: str, workload: str, seed: int) -> str:
    """Materialize (once per seed) docs.parquet, media.parquet,
    expected.json (doc digests) and page_lines.json; return the directory."""
    from manuscript_ocr_spark.fixtures import SPAN_STRUCT, generate_docs

    final = os.path.join(data_dir, "inputs", f"{workload}-s{seed}-{INPUTS_VERSION}")
    if os.path.isdir(final):
        return final
    size = SIZES[workload]
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rows, page_lines = render_pages(seed, size["n_pages"])
    if size["media_p"] is None:
        docs = generate_docs(size["n_docs"], size["n_pages"], seed=seed)
    else:
        docs = text_heavy_docs(size["n_docs"], size["n_pages"], seed, size["media_p"])
    # small row groups, as fixtures.write_fixtures: the scan splits at
    # row-group granularity
    pq.write_table(media_table(rows), os.path.join(tmp, "media.parquet"),
                   row_group_size=8)
    pq.write_table(pa.table({
        "doc_id": [d["doc_id"] for d in docs],
        "spans": pa.array([d["spans"] for d in docs], pa.list_(SPAN_STRUCT)),
    }), os.path.join(tmp, "docs.parquet"))
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected_digests(docs, page_lines), f)
    with open(os.path.join(tmp, "page_lines.json"), "w") as f:
        json.dump(page_lines, f)
    _commit(tmp, final)
    return final


def load_json(path: str):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# corpus tables
# ---------------------------------------------------------------------------

_VOCAB = ("a the data query table column row key value hash join sort group "
          "agg filter scan merge window stream batch spark vector line part "
          "order customer small big fast slow").split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.04:
            texts.append(texts[int(rng.integers(0, len(texts)))])  # exact dup
        elif texts and r < 0.12:
            words = texts[int(rng.integers(0, len(texts)))].split()
            k = int(rng.integers(0, len(words)))
            words[k] = "dup"  # near dup: one word changed
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n_words)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{j}" for j in np.arange(n) % 20],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    labels = rng.integers(0, k, n).astype(np.int32)
    centers = rng.standard_normal((k, dim))
    x = centers[labels] * 0.6 + rng.standard_normal((n, dim))
    # a few near-duplicate vectors so the semantic-dup queries find pairs
    dups = rng.choice(n, size=n // 20, replace=False)
    x[dups[1::2]] = x[dups[0::2]] + 1e-3 * rng.standard_normal((len(dups[1::2]), dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array([row.astype(np.float32) for row in x],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _days(rng, n, start=dt.datetime(1995, 1, 1), span_days=2400):
    return pa.array([start + dt.timedelta(days=int(d)) for d in rng.integers(0, span_days, n)],
                    pa.timestamp("us"))


def corpus_tables(rng) -> dict:
    s = CORPUS_SIZES
    n_cust, n_ord, n_li = s["customer"], s["orders"], s["lineitem"]
    n_part, n_supp, n_ev = s["part"], s["supplier"], s["events"]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999, 9999, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "blue", "large"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear"], n_part))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": list(rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 100000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": list(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days(rng, n_li),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array([dt.datetime(2024, 1, 1) + dt.timedelta(seconds=float(x))
                            for x in np.sort(rng.uniform(0, 30 * 86400, n_ev))],
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 200, n_ev).astype(np.int64)),
            "event_type": list(rng.choice(["view", "click", "cart", "buy", "error"], n_ev)),
            "value": np.round(rng.uniform(0, 20, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, s["documents"]),
        "embeddings": _embeddings(rng, s["embeddings"]),
    }


def corpus_inputs(data_dir: str, seed: int) -> str:
    """Materialize (once per seed) the corpus tables; return the sf dir."""
    final = os.path.join(data_dir, "inputs", f"corpus_ops-s{seed}-{INPUTS_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in corpus_tables(np.random.default_rng(seed + 3_000_017)).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    _commit(tmp, final)
    return final
