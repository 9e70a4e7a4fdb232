"""Per-partition checkpoint / resume (north_rule: "progress is checkpointed
per-partition ... so any failed run resumes from the last committed
snapshot"; reference analog: resume_from/last_state.pt,
/root/reference/src/manuscript/detectors/_east/train_utils.py:264-280).

No Iceberg runtime jars exist in this sandbox, so the commit manifest
emulates Iceberg snapshot semantics over parquet directories (FIXTURES.md
"Storage & loading"): docs are salted into `n_buckets` hash buckets
(pmod(xxhash64(doc_id), n) — the explicit salting of the north rule, same
defusal as AQE cannot give UDF stages).

Write path — ONE job, per-bucket commits: all pending buckets are extracted
in a single pass (a hash bucket is not prunable by any format, so per-bucket
jobs would rescan the full input n_buckets times — 8× scan cost at 100 TB,
with the cluster idle between jobs) and written `partitionBy(__bucket)` to a
staging directory; each bucket directory is then atomically renamed into
<out>/spans/bucket=<b>/ and its manifest JSON committed by atomic rename to
<out>/_manifest/<b>.json. The manifest's rows/spans come from an Observation
on that one write and its per-file rows from the parquet footers, so the
commits submit no Spark job. A rerun skips every bucket with a manifest and
recomputes the rest in one new job; staged-or-renamed data without its
manifest is overwritten (idempotent). Readers see only manifest-committed
buckets. On Iceberg this maps 1:1 onto snapshot commits with bucket
partition specs.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import __version__


def bucket_of(col, n_buckets: int):
    """Salted bucket id: pmod(xxhash64(doc_id), n)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def committed_buckets(out_dir: str) -> dict:
    mdir = os.path.join(out_dir, "_manifest")
    out = {}
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    m = json.load(f)
                out[int(m["bucket"])] = m
    return out


def _commit_manifest(out_dir: str, manifest: dict):
    mdir = os.path.join(out_dir, "_manifest")
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"{manifest['bucket']}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, final)  # atomic commit


def extract_with_checkpoint(
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    **extract_kwargs,
) -> dict:
    """Run the extraction pipeline over all pending buckets in ONE job with
    per-bucket commits.

    Returns {"committed": [...], "skipped": [...], "out_dir": ...}.
    `fail_after` aborts after N newly committed buckets (fault injection for
    the resume test) — the remaining buckets stay staged but UNcommitted, so
    a rerun recomputes them. Output table = parquet at <out_dir>/spans
    (manifest-committed buckets), identical rows to pipeline.extract_spans
    over the same input.

    Raises ValueError on resume if existing manifests were written under a
    different n_buckets: the bucket assignment changes with the modulus, so
    mixing moduli would silently drop and duplicate documents.
    """
    from ..pipeline import extract_spans

    already = committed_buckets(out_dir)
    for b, m in already.items():
        if m.get("n_buckets") != n_buckets:
            raise ValueError(
                f"resume mismatch: bucket {b} was committed with "
                f"n_buckets={m.get('n_buckets')}, this run uses "
                f"n_buckets={n_buckets}; rerun with the original modulus or "
                f"a fresh out_dir"
            )
    skipped = sorted(already)
    pending = [b for b in range(n_buckets) if b not in already]
    committed: list[int] = []
    if not pending:
        return {"committed": committed, "skipped": skipped, "out_dir": out_dir}

    t0 = time.time()
    docs_in = docs
    if already:
        # prune committed docs BEFORE the pipeline (one predicate on the
        # narrow docs scan; the media scan is then pruned transitively by the
        # refs semi-join)
        docs_in = docs.filter(
            ~bucket_of(F.col("doc_id"), n_buckets).isin([int(b) for b in skipped])
        )
    out = extract_spans(docs_in, media, **extract_kwargs).withColumn(
        "__bucket", bucket_of(F.col("doc_id"), n_buckets)
    )
    # per-bucket row and span counts ride the staged write itself, so the
    # manifest commits below need no Spark job
    lineage = Observation()
    counts = []
    for b in pending:
        in_b = F.col("__bucket") == b
        counts += [
            F.count_if(in_b).alias(f"rows_{b}"),
            F.coalesce(F.sum(F.when(in_b, F.size("spans"))), F.lit(0)).alias(
                f"spans_{b}"
            ),
        ]
    staging = os.path.join(out_dir, "_staging")
    out.observe(lineage, *counts).write.mode("overwrite").partitionBy(
        "__bucket"
    ).parquet(staging)
    job_wall_ms = int((time.time() - t0) * 1000)
    observed = lineage.get

    spans_root = os.path.join(out_dir, "spans")
    os.makedirs(spans_root, exist_ok=True)
    for b in pending:
        src = os.path.join(staging, f"__bucket={b}")
        dst = os.path.join(spans_root, f"bucket={b}")
        if os.path.isdir(dst):
            shutil.rmtree(dst)  # uncommitted leftover from a crashed run
        per_file = {}
        if os.path.isdir(src):
            os.replace(src, dst)  # atomic publish
            # per-output-partition lineage: one parquet file per write task,
            # its row count read from the file footer
            per_file = {
                f: pq.read_metadata(os.path.join(dst, f)).num_rows
                for f in sorted(os.listdir(dst))
                if f.endswith(".parquet")
            }
        _commit_manifest(
            out_dir,
            {
                "bucket": b,
                "n_buckets": n_buckets,
                "rows": observed[f"rows_{b}"],
                "spans": observed[f"spans_{b}"],
                # one shared extraction job: the scan+OCR wall is paid once
                # for all pending buckets, not once per bucket
                "wall_ms": job_wall_ms,
                "job_buckets": len(pending),
                "engine_version": __version__,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "files": per_file,
            },
        )
        committed.append(b)
        if fail_after is not None and len(committed) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} buckets")
    shutil.rmtree(staging, ignore_errors=True)

    return {"committed": committed, "skipped": skipped, "out_dir": out_dir}


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY manifest-committed buckets (an uncommitted bucket directory
    left by a crash is invisible to readers until its manifest lands)."""
    spans_root = os.path.join(out_dir, "spans")
    paths = [
        os.path.join(spans_root, f"bucket={b}")
        for b in sorted(committed_buckets(out_dir))
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        raise FileNotFoundError(f"no committed buckets under {out_dir}")
    return spark.read.option("basePath", spans_root).parquet(*paths)
