"""Degenerate-band stress fixture for the LSH hot-bucket cap (round-4
verdict item #2: the cap is now DEFAULT ON and mirrored in the oracle).

The fixture plants one degenerate cluster — many documents with identical
text, which share every band bucket — among organic near-dup pairs. With
the cap:
- the degenerate bucket's quadratic pair set is dropped (bounded output),
- organic pairs survive untouched,
- Spark and the DuckDB mirror agree EXACTLY (the cap binds identically in
  both engines — no silent engine divergence),
- dropping is logged, not silent.
"""

from __future__ import annotations

import logging

import duckdb
import pandas as pd
import pytest


def _write_docs(tmp_path, n_degenerate: int, n_organic_pairs: int = 3):
    """documents.parquet with one identical-text cluster + organic pairs."""
    rows = []
    did = 0
    for _ in range(n_degenerate):
        rows.append((did, "the same boilerplate template page text body", "en"))
        did += 1
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    for p in range(n_organic_pairs):
        base = " ".join(words[(p + i) % len(words)] for i in range(8))
        rows.append((did, base + f" unique{p}a", "en"))
        did += 1
        rows.append((did, base + f" unique{p}b", "en"))
        did += 1
    # singletons that bucket alone
    for s in range(5):
        rows.append((did, f"solitary document number {s} with words {s * 7} "
                          f"{s * 13} {s * 17} nothing shared", "en"))
        did += 1
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    df["source"] = "stress"
    df["n_chars"] = df["text"].str.len()
    out = tmp_path / "documents.parquet"
    df.to_parquet(out)
    return str(tmp_path)


def _oracle_pairs(sf_dir: str, cap: int | None):
    from manuscript_ocr_spark.functions.dedup import _minhash_pairs_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    return {
        (int(a), int(b))
        for a, b in con.execute(_minhash_pairs_sql(cap)).fetchall()
    }


def _spark_pairs(spark, sf_dir: str, cap: int | None):
    from manuscript_ocr_spark.functions.dedup import minhash_lsh_pairs

    return {
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in minhash_lsh_pairs(spark, sf_dir, max_bucket_size=cap).collect()
    }


def test_cap_binds_identically_in_both_engines(spark, tmp_path, caplog):
    """20-doc degenerate cluster, cap=10: the cluster's 190 pairs vanish in
    BOTH engines; organic pairs survive in both; sets match exactly."""
    sf = _write_docs(tmp_path, n_degenerate=20)

    uncapped_spark = _spark_pairs(spark, sf, None)
    uncapped_oracle = _oracle_pairs(sf, None)
    assert uncapped_spark == uncapped_oracle
    degen = {(a, b) for a, b in uncapped_spark if a < 20 and b < 20}
    assert len(degen) == 20 * 19 // 2  # the quadratic blowup, uncapped

    with caplog.at_level(logging.WARNING,
                         logger="manuscript_ocr_spark.functions.dedup"):
        capped_spark = _spark_pairs(spark, sf, 10)
        # the drop report rides an Observation resolved on a daemon thread;
        # give it a beat to fire after the action returns
        import time

        for _ in range(50):
            if any("max_bucket_size" in r.message for r in caplog.records):
                break
            time.sleep(0.1)
    capped_oracle = _oracle_pairs(sf, 10)
    assert capped_spark == capped_oracle
    assert capped_spark == uncapped_spark - degen  # ONLY the hot bucket drops
    assert len(capped_spark) >= 3  # organic pairs survive
    assert any("max_bucket_size" in r.message for r in caplog.records)


def test_default_cap_is_on_and_mirrored(spark, tmp_path):
    """A 300-doc degenerate cluster exceeds DEFAULT_MAX_BUCKET_SIZE=256 with
    NO arguments passed — the default invocation is the safe one, and the
    registry oracle SQL (MINHASH_PAIRS_SQL) mirrors it."""
    from manuscript_ocr_spark.functions.dedup import (
        DEFAULT_MAX_BUCKET_SIZE,
        MINHASH_PAIRS_SQL,
        minhash_lsh_pairs,
    )

    n = DEFAULT_MAX_BUCKET_SIZE + 44  # 300
    sf = _write_docs(tmp_path, n_degenerate=n)
    got = {
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in minhash_lsh_pairs(spark, sf).collect()  # all defaults
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    oracle = {(int(a), int(b)) for a, b in con.execute(MINHASH_PAIRS_SQL).fetchall()}
    assert got == oracle
    # the degenerate cluster's ~45k pairs are gone; output stays bounded
    assert not any(a < n and b < n for a, b in got)
    assert len(got) < 50


def test_streaming_cap_freezes_hot_bucket(spark, tmp_path):
    """The streaming twin's PROSPECTIVE cap: a degenerate cluster arriving
    over two micro-batches admits only max_bucket_size docs per bucket —
    emissions stay bounded at cap·(cap−1)/2 per bucket instead of growing
    quadratically, and organic pairs still surface."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.streaming.incremental import (
        streaming_minhash_lsh_pairs,
    )

    (tmp_path / "data").mkdir(exist_ok=True)
    sf = _write_docs(tmp_path / "data", n_degenerate=12)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    docs.filter(F.col("doc_id") < 6).coalesce(1).write.parquet(
        str(stream_dir / "chunk=0"))
    docs.filter(F.col("doc_id") >= 6).coalesce(1).write.parquet(
        str(stream_dir / "chunk=1"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_minhash_lsh_pairs(stream, max_bucket_size=4)
        .writeStream.format("memory")
        .queryName("lsh_cap_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        frozenset((int(r["doc_a"]), int(r["doc_b"])))
        for r in spark.table("lsh_cap_stream").collect()
    }
    degen = {p for p in got if max(p) < 12}
    # bucket frozen at 4 members: the 12-doc cluster emits C(4,2)=6 pairs
    # (the 4 smallest doc_ids — batch 0 admits them; batch 1 adds none)
    assert degen == {
        frozenset((a, b)) for a in range(4) for b in range(a + 1, 4)
    }
    organic = {p for p in got if min(p) >= 12}
    assert len(organic) >= 3  # organic near-dup pairs unaffected


def test_cap_never_binds_on_testdata(spark):
    """Regression guard for the measured default: on the sf0.01 testdata the
    largest organic bucket is 3 docs, so capped and uncapped results are
    identical — the default changes nothing for real corpora."""
    from manuscript_ocr_spark.functions.dedup import DEFAULT_MAX_BUCKET_SIZE

    sf = "/root/testdata/sf0.01"
    assert _spark_pairs(spark, sf, None) == _spark_pairs(
        spark, sf, DEFAULT_MAX_BUCKET_SIZE
    )


def test_lsh_hot_bucket_cap(spark, tmp_path):
    """The opt-in max_bucket_size guard drops degenerate buckets (one hot
    band value shared by k docs would emit k²/2 pairs at corpus scale)
    without touching pairs from healthy buckets — and the default (None)
    keeps the exact oracle-mirrored semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.functions.dedup import minhash_lsh_pairs

    # 30 identical "template" docs (one hot bucket) + 2 genuine near-dups
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, base, "en", "src0", len(base)) for i in range(30)]
    near = "a manuscript page holds many lines of careful writing every day"
    docs += [(100, near, "en", "src0", len(near)),
             (101, near + " x", "en", "src0", len(near) + 2)]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "lang": [d[2] for d in docs],
            "source": [d[3] for d in docs],
            "n_chars": pa.array([d[4] for d in docs], pa.int64()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(tbl, f"{sf}/documents.parquet")

    full = minhash_lsh_pairs(spark, sf).collect()
    capped = minhash_lsh_pairs(spark, sf, max_bucket_size=10).collect()
    full_pairs = {(r["doc_a"], r["doc_b"]) for r in full}
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    # uncapped: the 30-doc clique alone is 435 pairs
    assert len(full_pairs) >= 435 + 1
    # capped: the clique is gone, the genuine near-dup pair survives
    assert capped_pairs == {(100, 101)}
