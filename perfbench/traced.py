"""The traced run: per-layer metrics from outside the program.

The untraced iterations (event log off) give the reference ``run_s``. Then,
with Spark's event log switched on in the same session, this runs one traced
iteration with spans around each call into the program, three pipeline probes
on the workload's extraction input (each repeated ``PROBE_REPS`` times), the
single-process OCR chain over a seeded page sample, and one pass of the
``functions`` corpus builders. It then reads the event log, hangs each Spark
job under the span it ran in, and derives the layer metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from ledger import EventLog, EventLogRecorder, Tracer, chain_ledger, covered
from workloads import CORPUS_QUERIES, CorpusOps, _media_refs

PROBE_REPS = 2
FUNCTIONS_SEED = 0

# the per-layer metrics every workload reports (BENCHMARK.json "per_layer")
CHAIN_METRICS = (
    "oracle.decode_media.ms_per_page",
    "kernels.image.resize.ms_per_page",
    "models.east_tiny.forward.ms_per_page",
    "kernels.boxes.decode_quads_from_maps.ms_per_page",
    "kernels.geometry.locality_aware_nms.ms_per_page",
    "kernels.boxes.postfilter.ms_per_page",
    "kernels.ordering.reading_order_line_index_groups.ms_per_page",
    "kernels.image.extract_word_image.ms_per_page",
    "models.trba_tiny.predict.ms_per_page",
    "oracle.page_ms.p50",
    "oracle.page_ms.p99",
    "oracle.ideal_s",
    "lanms.boxes_in",
    "lanms.boxes_out",
    "quads_per_page",
    "crops_per_page",
    "lines_per_page",
)
PIPELINE_METRICS = (
    "pipeline.extract_spans.call_s",
    "pipeline.ocr_stage_s",
    "pipeline.regroup_s",
    "pipeline.sink_s",
    "pipeline.ocr_overhead_ratio",
    "pipeline.ocr_dup_ratio",
    "pipeline.refs_distinct",
    "pipeline.lines_out",
    "pipeline.ocr_stage.tasks",
    "pipeline.ocr_stage.task_p50_s",
    "pipeline.ocr_stage.task_max_s",
    "pipeline.ocr_stage.task_skew",
    "pipeline.ocr_stage.pages_per_task_max",
)
SPARK_METRICS = (
    "python.data_sent_mb",
    "python.data_received_mb",
    "python.boot_s",
    "python.init_s",
    "python.total_s",
    "shuffle.write_mb",
    "shuffle.read_mb",
    "input_mb",
    "gc_s",
    "executor_run_s",
    "executor_cpu_s",
    "spill_mb",
    "jobs",
    "stages",
    "tasks",
)
FUNCTIONS_METRICS = tuple(
    f"functions.{q}.{m}" for q in ("similarity.ivf_kmeans_build",) + CORPUS_QUERIES
    for m in ("s", "jobs", "shuffle_mb")) + ("functions.similarity.ivf_kmeans_build.files",)
PER_LAYER = (("session.start_s",) + CHAIN_METRICS + PIPELINE_METRICS + SPARK_METRICS
             + FUNCTIONS_METRICS
             + ("output.files_written", "trace.coverage", "trace.overhead_ratio"))


def unit(name: str) -> str:
    if name.endswith(("ms_per_page", ".p50", ".p99")):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "coverage", "skew")):
        return "ratio"
    return "count"


def _pipeline_probes(ctx, workload, spark, weights, tracer) -> dict:
    """OCR stage alone, extract_spans to a noop sink, and to a parquet sink,
    PROBE_REPS times each, interleaved; medians."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import serialize_weights
    from manuscript_ocr_spark.pipeline import extract_spans, ocr_media_lines

    docs, media = workload.probe_tables(spark)
    refs_distinct = _media_refs(docs).count()
    out = os.path.join(ctx.scratch, "probe-parquet")
    t = {"ocr": [], "noop": [], "parquet": [], "call": []}
    for _ in range(PROBE_REPS):
        with tracer.span("probe.ocr_media_lines") as ocr:
            bc = spark.sparkContext.broadcast(serialize_weights(weights))
            row = ocr_media_lines(media, _media_refs(docs), bc, DetectorConfig()) \
                .agg(F.count("*").alias("pages"), F.sum(F.size("lines")).alias("lines")) \
                .collect()[0]
        with tracer.span("probe.extract_spans.noop") as noop:
            extract_spans(docs, media, weights=weights) \
                .write.format("noop").mode("overwrite").save()
        with tracer.span("probe.extract_spans.parquet") as sink:
            with tracer.span("probe.extract_spans.call") as call:
                df = extract_spans(docs, media, weights=weights)
            df.write.mode("overwrite").parquet(out)
        shutil.rmtree(out, ignore_errors=True)
        for key, span in (("ocr", ocr), ("noop", noop), ("parquet", sink), ("call", call)):
            t[key].append(span.seconds)
    med = {k: statistics.median(v) for k, v in t.items()}
    return {
        "pipeline.extract_spans.call_s": med["call"],
        "pipeline.ocr_stage_s": med["ocr"],
        "pipeline.regroup_s": med["noop"] - med["ocr"],
        "pipeline.sink_s": med["parquet"] - med["noop"],
        "pipeline.refs_distinct": refs_distinct,
        "pipeline.lines_out": row["lines"] or 0,
        "_ocr_span": ocr.id,
        "_noop_span": noop.id,
    }


def _ocr_stage(log: EventLog, jobs) -> dict:
    stage = log.python_stage(log.stages_of(jobs))
    if stage is None:
        raise RuntimeError("no Python stage in the OCR probe's jobs")
    tasks = log.stages[stage]["tasks"]
    dur = [t["duration"] for t in tasks]
    p50 = statistics.median(dur)
    return {
        "pipeline.ocr_stage.tasks": len(tasks),
        "pipeline.ocr_stage.task_p50_s": p50,
        "pipeline.ocr_stage.task_max_s": max(dur),
        "pipeline.ocr_stage.task_skew": max(dur) / p50 if p50 > 0 else 0.0,
        "pipeline.ocr_stage.pages_per_task_max": max(log.python_rows(t) for t in tasks),
    }


def _attach_jobs(tracer: Tracer, log: EventLog):
    """Add one span per Spark job under the innermost span it started in."""
    own = list(tracer.spans)
    for jid, job in sorted(log.jobs.items()):
        if job["end"] is None:
            continue
        inside = [s for s in own if s["start"] <= job["start"] <= s["end"]]
        if inside:
            parent = min(inside, key=lambda s: s["end"] - s["start"])
            tracer.add(f"spark.job.{jid}", job["start"], job["end"], parent["id"])


def _pages_ocrd(log: EventLog, jobs) -> int:
    """Rows out of the Python (OCR) stages of the given jobs: one per page
    OCR'd."""
    return sum(log.python_rows(t) for s in log.stages_of(jobs) for t in log.stages[s]["tasks"])


def _functions_pass(ctx, workload, spark, weights, tracer):
    """One pass of the corpus builders (``CorpusOps``), traced → (figures,
    failed ops, attempted ops). On ``corpus_ops`` the traced iteration is
    that pass already; elsewhere it runs over the corpus of FUNCTIONS_SEED,
    whose preparation is then cached once per checkout."""
    if isinstance(workload, CorpusOps):
        return None, 0, 0
    corpus = CorpusOps(ctx, seed=FUNCTIONS_SEED)
    corpus.bind(spark)
    corpus.prepare(spark)                            # untimed
    fig, out = corpus.iteration(spark, weights, tracer, 0)
    bad, ops = corpus.verify(spark, out, fig)
    return fig, bad, ops


def run(ctx, workload, spark, weights, stats, sessions):
    """→ (per-layer metrics, workload-specific extras, failed ops, attempted
    ops)."""
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import DEFAULT_MIN_TEXT_SIZE

    laps, t0 = [], time.perf_counter()

    def lap(name):
        nonlocal t0
        laps.append(f"{name}={time.perf_counter() - t0:.1f}s")
        t0 = time.perf_counter()

    tracer = Tracer()
    with EventLogRecorder(spark, ctx.eventlog) as recorder:
        fig, out = workload.iteration(spark, weights, tracer, 10_000)
        failed, attempted = workload.verify(spark, out, fig)
        root = tracer.spans[0]
        lap("iteration")
        probe = _pipeline_probes(ctx, workload, spark, weights, tracer)
        lap("probes")
        rows = workload.chain_rows()
        layer, lines = chain_ledger(rows, weights, DetectorConfig(), DEFAULT_MIN_TEXT_SIZE,
                                    probe["pipeline.refs_distinct"], ctx.nproc)
        chain_bad = sum(lines[r["media_ref"]] != workload.chain_expected(r["media_ref"])
                        for r in rows)
        attempted += 1
        if chain_bad:
            print(f"# chain decomposition differs from the oracle on {chain_bad} pages")
            failed += 1
        lap("chain")
        corpus_fig, bad, ops = _functions_pass(ctx, workload, spark, weights, tracer)
        failed, attempted = failed + bad, attempted + ops
        lap("functions")
    log = EventLog(recorder.path)
    _attach_jobs(tracer, log)
    lap("eventlog")
    print("# trace phases: " + " ".join(laps))

    it_jobs = log.jobs_between(root["start"], root["end"])
    ocr_span = tracer.spans[probe["_ocr_span"]]
    noop_span = tracer.spans[probe["_noop_span"]]
    layer.update(log.totals(log.stages_of(it_jobs)))
    layer["jobs"] = len(it_jobs)
    layer.update(_ocr_stage(log, log.jobs_between(ocr_span["start"], ocr_span["end"])))
    layer.update({k: v for k, v in probe.items() if not k.startswith("_")})
    layer["pipeline.ocr_overhead_ratio"] = (probe["pipeline.ocr_stage_s"]
                                            / layer["oracle.ideal_s"])
    # waste: pages the noop extract_spans OCR'd per distinct page it needed
    pages = _pages_ocrd(log, log.jobs_between(noop_span["start"], noop_span["end"]))
    layer["pipeline.ocr_dup_ratio"] = pages / probe["pipeline.refs_distinct"]
    attempted += 1
    if layer["pipeline.ocr_dup_ratio"] != 1.0:
        print(f"# extract_spans OCR'd {pages} pages for "
              f"{probe['pipeline.refs_distinct']} distinct refs")
        failed += 1
    layer["session.start_s"] = statistics.median(sessions)
    layer["output.files_written"] = fig.get("files_written", fig.get("index_files", 0))
    root_len = root["end"] - root["start"]
    layer["trace.coverage"] = covered(
        [(s["start"], s["end"]) for s in tracer.leaves_under(root["id"])],
        root["start"], root["end"]) / root_len
    # traced (event log on, spans kept) ÷ untraced (event log off) run_s
    layer["trace.overhead_ratio"] = fig["run_s"] / stats["run_s"]["median"]

    extra = _extras(tracer, log, fig)
    extra["functions.similarity.ivf_kmeans_build.files"] = (corpus_fig or fig)["index_files"]
    layer.update({k: extra.pop(k) for k in FUNCTIONS_METRICS})
    missing = [k for k in PER_LAYER if k not in layer]
    if missing:
        raise RuntimeError(f"traced run lacks layer metrics {missing}")
    path = os.path.join(ctx.data, "traces", f"{ctx.workload}-s{ctx.seed}.json")
    with open(path, "w") as f:
        json.dump({"layer": layer, "extra": extra, "spans": tracer.spans}, f, indent=1)
    print(f"# trace written to {os.path.relpath(path)}")
    return {k: layer[k] for k in PER_LAYER}, extra, failed, attempted


def _extras(tracer: Tracer, log: EventLog, fig: dict) -> dict:
    """Workload-specific layer figures (printed and kept in the trace file)."""
    extra = {}
    checkpoint_keys = {"checkpoint.extract_with_checkpoint.call": "checkpoint.call",
                       "checkpoint.resume.call": "checkpoint.resume_call"}
    for s in tracer.spans:
        name = s["name"]
        if s["parent"] is None or name.startswith(("spark.job", "probe.")):
            continue
        jobs = log.jobs_between(s["start"], s["end"])
        if name in checkpoint_keys:
            key = checkpoint_keys[name]
            extra[f"{key}_s"] = s["end"] - s["start"]
            extra[f"{key}.jobs"] = len(jobs)
        elif name.startswith("functions."):
            extra[f"{name}.s"] = s["end"] - s["start"]
            extra[f"{name}.jobs"] = len(jobs)
            t = log.totals(log.stages_of(jobs))
            extra[f"{name}.shuffle_mb"] = t["shuffle.write_mb"]
        extra[f"self_s.{name}"] = tracer.self_time(s["id"])
    if "read_back_s" in fig:
        extra["checkpoint.read_back_s"] = fig["read_back_s"]
        extra["checkpoint.files_written"] = fig["files_written"]
        extra["checkpoint.jobs"] = extra.get("checkpoint.call.jobs", 0) \
            + extra.get("checkpoint.resume_call.jobs", 0)
    return extra
