"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Load model: a closed loop
with one client. One Spark application at ``local[nproc]`` runs one job at a
time; the next iteration starts when the previous one has finished.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
iterations, then the traced part (``traced.py``, with Spark's event log on),
and prints every per-layer metric. Earlier stdout lines are a human-readable
table (including the workload-specific figures); the last line is one JSON
object.

Everything the run writes stays under ``perfbench/.data/`` in the checkout:
cached seeded inputs and traces, plus a per-run scratch directory (Spark
local dirs, temp files, event log) removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# the JVM keeps getting faster for ~10 s of repeated work after set-up
WARMUP_S = 10.0
DRIVER_MEM = "2g"       # fits a 15 GB host next to the Python workers

E2E = ("setup_s", "run_s", "docs_per_s", "peak_rss_mb")
E2E_UNITS = {"setup_s": "s", "run_s": "s", "docs_per_s": "1/s", "peak_rss_mb": "MB",
             "pages_per_s": "1/s", "resume_s": "s", "index_build_s": "s"}


class Context:
    def __init__(self, args):
        self.workload, self.seed, self.trace = args.workload, args.seed, bool(args.trace)
        self.seconds = args.seconds
        self.nproc = len(os.sched_getaffinity(0))
        self.data = os.path.join(HERE, ".data")
        self.scratch = os.path.join(self.data, "scratch", f"{os.getpid()}")
        self.eventlog = os.path.join(self.scratch, "eventlog")
        for d in (self.scratch, self.eventlog, os.path.join(self.data, "traces")):
            os.makedirs(d, exist_ok=True)


def _env(ctx: Context):
    """Keep every write inside the checkout and give the Python workers the
    package on their path. Must run before the JVM starts."""
    tmp = os.path.join(ctx.scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "MSOCR_FIXTURES_DIR": os.path.join(ctx.data, "fixtures"),
        "SPARK_LOCAL_DIRS": os.path.join(ctx.scratch, "spark-local"),
        "TMPDIR": tmp,
        # every JVM (launcher and driver): temp files in the checkout, no
        # hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _confs(ctx: Context) -> dict:
    return {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.maxResultSize": "1g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def setup(ctx: Context, spark):
    """One set-up: (re)start the Spark session, build the weights, broadcast
    them, and run a warm-up job that starts every Python worker and reads
    the broadcast there. Returns (session, weights, set-up s, get_spark s)."""
    from manuscript_ocr_spark.models.glyphs import build_weights, serialize_weights
    from manuscript_ocr_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{ctx.nproc}]", app_name=f"perfbench-{ctx.workload}",
                      extra_confs=_confs(ctx))
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter() - t0
    weights = build_weights()
    blob = spark.sparkContext.broadcast(serialize_weights(weights))

    def touch(batches):
        for pdf in batches:
            yield pdf.assign(n=len(blob.value))

    spark.range(0, ctx.nproc, numPartitions=ctx.nproc) \
        .mapInPandas(touch, "id long, n long").collect()
    blob.unpersist()
    return spark, weights, time.perf_counter() - t0, t_session


def summary(values) -> dict:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (None when the sample is too small)."""
    n = len(values)
    p = math.floor(100 * (n - 10) / n) if n > 10 else None
    tail = statistics.quantiles(values, n=100, method="inclusive")[p - 1] if p and p > 50 else None
    return {"median": statistics.median(values), "n": n, "values": values,
            "tail": (f"p{p}", tail) if tail is not None else None}


def measure(ctx, workload, spark, weights):
    """Closed loop: untimed warm-up iterations for at least WARMUP_S, then
    timed iterations until ``ctx.seconds`` of timed work. Every iteration's
    output is checked; each timed one also records the peak RSS of the
    process tree while it ran."""
    from ledger import RssPeak, Tracer

    samples, attempted, failed = [], 0, 0
    warm, timed, i = 0.0, 0.0, 0
    while timed < ctx.seconds:
        tracer = Tracer()
        try:
            with RssPeak() as rss:
                fig, out = workload.iteration(spark, weights, tracer, i)
            fig["peak_rss"] = rss.peak
        except Exception as e:  # an iteration that raises is a failed operation
            print(f"# {ctx.workload}: iteration {i} raised {e!r}"[:500])
            attempted += 1
            failed += 1
            break
        bad, ops = workload.verify(spark, out, fig)
        attempted += ops
        failed += bad
        if warm < WARMUP_S:
            warm += fig["run_s"]
        else:
            samples.append(fig)
            timed += fig["run_s"]
        i += 1
    return samples, attempted, failed


def e2e_metrics(ctx, workload, setups, samples):
    run = [s["run_s"] for s in samples]
    figs = {
        "setup_s": setups,
        "run_s": run,
        "docs_per_s": [workload.n_docs / r for r in run],
        "peak_rss_mb": [s["peak_rss"] / (1 << 20) for s in samples],
    }
    if samples[0]["pages"]:
        figs["pages_per_s"] = [s["pages"] / s["run_s"] for s in samples]
    for key in ("resume_s", "index_build_s"):
        if key in samples[0]:
            figs[key] = [s[key] for s in samples]
    if "queries" in samples[0]:
        for q in samples[0]["queries"]:
            figs[f"query.{q}_s"] = [s["queries"][q] for s in samples]
    return {k: summary(v) for k, v in figs.items()}


def print_table(ctx, stats, attempted, failed):
    print(f"# workload={ctx.workload} seed={ctx.seed} nproc={ctx.nproc} "
          f"ops_attempted={attempted} ops_failed={failed}")
    for k, s in stats.items():
        tail = f" {s['tail'][0]}={s['tail'][1]:.4f}" if s["tail"] else " tail=n/a(n<=10)"
        vals = ",".join(f"{v:.3f}" for v in s["values"])
        print(f"# {k:<36} median={s['median']:.4f} {E2E_UNITS.get(k, 's')} n={s['n']}{tail}"
              f" values=[{vals}]")


def stop_everything(spark):
    """Stop Spark, then the JVM gateway, and wait for every child process."""
    from ledger import descendants

    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
    t_jvm = time.perf_counter() - t0
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline") as f:
                cmd = f.read().replace("\0", " ")[:120]
        except OSError:
            cmd = "?"
        print(f"perfbench: killing child {pid} still running: {cmd}", file=sys.stderr)
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    print(f"perfbench: stopped in {time.perf_counter() - t0:.1f}s "
          f"(JVM {t_jvm:.1f}s)", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "manuscript_ocr_spark", "__init__.py")):
        print(f"perfbench: no manuscript_ocr_spark package next to {HERE}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    ctx = Context(args)
    _env(ctx)
    spark = None
    phases, t0 = [], time.perf_counter()

    def lap(name):
        nonlocal t0
        phases.append((name, time.perf_counter() - t0))
        t0 = time.perf_counter()

    try:
        workload = WORKLOADS[ctx.workload](ctx)      # seeded inputs (cached, untimed)
        lap("inputs")
        setups, sessions = [], []
        for _ in range(SETUP_REPS):
            spark, weights, t_setup, t_session = setup(ctx, spark)
            setups.append(t_setup)
            sessions.append(t_session)
        lap("setup")
        workload.bind(spark)
        if hasattr(workload, "prepare"):
            workload.prepare(spark)                  # untimed
            lap("prepare")
        samples, attempted, failed = measure(ctx, workload, spark, weights)
        lap("measure")
        if not samples:
            raise RuntimeError("no iteration completed")
        stats = e2e_metrics(ctx, workload, setups, samples)
        if ctx.trace:
            import traced

            layer, extra, t_failed, t_attempted = traced.run(ctx, workload, spark, weights,
                                                             stats, sessions)
            failed += t_failed
            attempted += t_attempted
            lap("trace")
        print_table(ctx, stats, attempted, failed)
        print("# phases: " + " ".join(f"{n}={v:.1f}s" for n, v in phases))
        if ctx.trace:
            for k, v in sorted(extra.items()):
                print(f"# {k:<48} {v:.6g}")
            metrics = {k: {"value": v, "unit": traced.unit(k)} for k, v in layer.items()}
        else:
            metrics = {k: {"value": stats[k]["median"], "unit": E2E_UNITS[k]} for k in E2E}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        stop_everything(spark)
        shutil.rmtree(ctx.scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
