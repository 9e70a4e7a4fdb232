"""Instruments for the traced run, all driven from outside the program.

- ``Tracer``: in-memory spans (name, start, end, parent) around calls into the
  program's public functions; the traced run writes them out once, at the end.
- ``RssPeak``: peak summed RSS of this process and all its descendants (the
  Spark JVM and the Python workers), polled from /proc.
- ``EventLogRecorder``: Spark's event log, switched on for a block of a
  running application; ``EventLog``: a parser for it (jobs, stages, task
  metrics and the Python SQL metrics).
- ``page_chain``: the single-process OCR chain of ``oracle.page_to_line_texts``
  split into its public kernel and model calls, each timed.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import numpy as np

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent})
        return len(self.spans) - 1

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        return (s["end"] - s["start"]) - covered(
            [(c["start"], c["end"]) for c in self.children(sid)], s["start"], s["end"])

    def leaves_under(self, sid: int) -> list[dict]:
        out = []
        for c in self.children(sid):
            sub = self.leaves_under(c["id"])
            out.extend(sub if sub else [c])
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.id = t.add(self.name, time.time(), float("nan"), parent)
        t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t._stack.pop()
        t.spans[self.id]["end"] = time.time()
        return False

    @property
    def seconds(self) -> float:
        s = self.tracer.spans[self.id]
        return s["end"] - s["start"]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces; fields after ')' are fixed
            parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss(root: int) -> int:
    pages = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE


class RssPeak:
    """Polls the summed RSS of this process tree while it is running."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss(os.getpid()))
        return False


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

PY_METRICS = {
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
}
_PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
             "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "AggregateInPandas",
             "WindowInPandas", "FlatMapCoGroupsInPandas", "PythonMapInArrow")


class EventLog:
    """Jobs, stages and per-task metrics of one Spark application."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.metric_type: dict[int, tuple] = {}   # accumulator id → (name, type)
        self.py_rows_ids: set[int] = set()         # Python nodes' output rows
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, node: dict):
        for m in node.get("metrics", []):
            self.metric_type[m["accumulatorId"]] = (m["name"], m["metricType"])
            if m["name"] == "number of output rows" and node["nodeName"].startswith(_PY_NODES):
                self.py_rows_ids.add(m["accumulatorId"])
        for c in node.get("children", []):
            self._plan(c)

    def _event(self, e: dict):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3,
                                      "stages": e["Stage IDs"], "end": None}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
            st["tasks"].append(_task(e))
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan(e["sparkPlanInfo"])

    def jobs_between(self, lo: float, hi: float) -> list[int]:
        """Jobs submitted inside [lo, hi] (wall-clock seconds)."""
        return sorted(j for j, v in self.jobs.items() if lo <= v["start"] <= hi)

    def stages_of(self, jobs) -> list[int]:
        ids = {s for j in jobs for s in self.jobs[j]["stages"]}
        return sorted(s for s in ids if s in self.stages and self.stages[s]["tasks"])

    def totals(self, stages) -> dict:
        """Summed task metrics over the given stages, in the ledger's units."""
        t = [task for s in stages for task in self.stages[s]["tasks"]]
        mb = 1 / (1 << 20)
        out = {
            "shuffle.write_mb": sum(x["shuffle_write"] for x in t) * mb,
            "shuffle.read_mb": sum(x["shuffle_read"] for x in t) * mb,
            "input_mb": sum(x["input"] for x in t) * mb,
            "spill_mb": sum(x["spill"] for x in t) * mb,
            "gc_s": sum(x["gc_ms"] for x in t) / 1e3,
            "executor_run_s": sum(x["run_ms"] for x in t) / 1e3,
            "executor_cpu_s": sum(x["cpu_ns"] for x in t) / 1e9,
            "tasks": len(t),
            "stages": len(stages),
        }
        for name, key in PY_METRICS.items():
            out[key] = 0.0
        for x in t:
            for aid, v in x["accum"].items():
                name, mtype = self.metric_type.get(aid, (x["accum_names"][aid], None))
                key = PY_METRICS.get(name)
                if key is None:
                    continue
                if key.endswith("_mb"):
                    out[key] += v * mb
                else:
                    out[key] += v / (1e9 if mtype == "nsTiming" else 1e3)
        return out

    def python_stage(self, stages) -> int | None:
        """The stage that sent the most bytes to Python workers."""
        best, best_bytes = None, 0
        for s in stages:
            sent = sum(v for task in self.stages[s]["tasks"]
                       for aid, v in task["accum"].items()
                       if task["accum_names"][aid] == "data sent to Python workers")
            if sent > best_bytes:
                best, best_bytes = s, sent
        return best

    def python_rows(self, task: dict) -> int:
        return int(sum(v for aid, v in task["accum"].items() if aid in self.py_rows_ids))


def _task(e: dict) -> dict:
    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics", {})
    accum, names = {}, {}
    for a in ti.get("Accumulables", []):
        if "Update" in a and not a["Name"].startswith("internal."):
            try:
                accum[a["ID"]] = float(a["Update"])
            except (TypeError, ValueError):
                continue
            names[a["ID"]] = a["Name"]
    return {
        "duration": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "spill": tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0),
        "input": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_read": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
        "shuffle_write": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "accum": accum,
        "accum_names": names,
    }


class EventLogRecorder:
    """Spark's own event-log writer, attached to a running SparkContext for
    the duration of a ``with`` block; ``path`` is the finished log."""

    def __init__(self, spark, log_dir: str):
        self.sc, self.log_dir = spark.sparkContext, log_dir

    def __enter__(self):
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(self.log_dir)), conf,
            jsc.hadoopConfiguration())
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc):
        self.sc._jsc.sc().removeSparkListener(self._listener)
        self._listener.stop()
        self.path = os.path.join(self.log_dir, self.sc.applicationId)
        return False


# --------------------------------------------------------------------------
# single-process OCR chain, split by public function
# --------------------------------------------------------------------------

CHAIN = (
    "oracle.decode_media",
    "kernels.image.resize",
    "models.east_tiny.forward",
    "kernels.boxes.decode_quads_from_maps",
    "kernels.geometry.locality_aware_nms",
    "kernels.boxes.postfilter",
    "kernels.ordering.reading_order_line_index_groups",
    "kernels.image.extract_word_image",
    "models.trba_tiny.predict",
)


def page_chain(row: dict, weights: dict, cfg, min_text_size: int, ms: dict, counts: dict):
    """``oracle.page_to_line_texts`` for the stand-in models, one public call
    at a time. Adds per-call milliseconds to ``ms`` and box counts to
    ``counts``; returns the page's line texts."""
    from manuscript_ocr_spark.kernels import boxes as kb
    from manuscript_ocr_spark.kernels.geometry import locality_aware_nms
    from manuscript_ocr_spark.kernels.image import extract_word_image, resize
    from manuscript_ocr_spark.kernels.ordering import reading_order_line_index_groups
    from manuscript_ocr_spark.models import east_tiny
    from manuscript_ocr_spark.models.trba_tiny import predict
    from manuscript_ocr_spark.oracle import decode_media

    clock = time.perf_counter

    def timed(name, fn, *a, **kw):
        t0 = clock()
        out = fn(*a, **kw)
        ms[name] = ms.get(name, 0.0) + (clock() - t0) * 1e3
        return out

    image = timed("oracle.decode_media", decode_media, row["pixels"], row["height"],
                  row["width"], row["channels"])
    orig_h, orig_w = image.shape[:2]
    if (orig_h, orig_w) != (cfg.target_size, cfg.target_size):
        resized = timed("kernels.image.resize", resize, image, cfg.target_size,
                        cfg.target_size, interp="linear")
    else:
        resized = image
    score, geo = timed("models.east_tiny.forward", east_tiny.forward, resized,
                       cfg.score_thresh)
    quads = timed("kernels.boxes.decode_quads_from_maps", kb.decode_quads_from_maps,
                  score_map=score, geo_map=geo, score_thresh=cfg.score_thresh,
                  scale=1.0 / cfg.score_geo_scale, quantization=cfg.quantization)
    counts["lanms.boxes_in"] = counts.get("lanms.boxes_in", 0) + len(quads)
    quads = timed("kernels.geometry.locality_aware_nms", locality_aware_nms, quads,
                  iou_threshold=cfg.iou_threshold)
    counts["lanms.boxes_out"] = counts.get("lanms.boxes_out", 0) + len(quads)

    def postfilter(q):
        q = kb.expand_boxes(q, expand_w=cfg.expand_ratio_w, expand_h=cfg.expand_ratio_h)
        q = kb.scale_boxes_to_original(q, (orig_h, orig_w), cfg.target_size)
        q = kb.remove_fully_contained_boxes(q)
        q = kb.remove_area_anomalies(q, sigma_threshold=cfg.anomaly_sigma_threshold,
                                     min_box_count=cfg.anomaly_min_box_count,
                                     enabled=cfg.remove_area_anomalies)
        return kb.convert_to_axis_aligned(q) if cfg.axis_aligned_output else q

    quads = timed("kernels.boxes.postfilter", postfilter, quads)
    counts["quads_per_page"] = counts.get("quads_per_page", 0) + len(quads)

    t0 = clock()
    boxes = []
    for quad in quads:
        poly = np.array(quad[:8].reshape(4, 2), dtype=np.int32)
        x_min, y_min = np.min(poly, axis=0)
        x_max, y_max = np.max(poly, axis=0)
        boxes.append((int(x_min), int(y_min), int(x_max), int(y_max)))
    line_groups = reading_order_line_index_groups(boxes)
    ms["kernels.ordering.reading_order_line_index_groups"] = (
        ms.get("kernels.ordering.reading_order_line_index_groups", 0.0)
        + (clock() - t0) * 1e3)

    crops, kept = [], []
    t0 = clock()
    for li, grp in enumerate(line_groups):
        for wi in grp:
            x_min, y_min, x_max, y_max = boxes[wi]
            if x_max - x_min >= min_text_size and y_max - y_min >= min_text_size:
                poly = np.array(quads[wi][:8].reshape(4, 2), dtype=np.int32)
                region = extract_word_image(image, poly)
                if region is not None and region.size > 0:
                    crops.append(region)
                    kept.append(li)
    ms["kernels.image.extract_word_image"] = (
        ms.get("kernels.image.extract_word_image", 0.0) + (clock() - t0) * 1e3)
    counts["crops_per_page"] = counts.get("crops_per_page", 0) + len(crops)

    results = timed("models.trba_tiny.predict", predict, crops, weights) if crops else []
    per_line: dict = {}
    for li, res in zip(kept, results):
        if res.get("text", ""):
            per_line.setdefault(li, []).append(res["text"])
    lines = [" ".join(per_line[li]) for li in range(len(line_groups)) if li in per_line]
    counts["lines_per_page"] = counts.get("lines_per_page", 0) + len(lines)
    return lines


def chain_ledger(rows, weights, cfg, min_text_size: int, n_distinct: int, nproc: int):
    """Run ``page_chain`` over sampled media rows → (metrics, lines by ref)."""
    ms: dict = {name: 0.0 for name in CHAIN}
    counts: dict = {}
    page_ms, lines = [], {}
    for row in rows:
        t0 = time.perf_counter()
        lines[row["media_ref"]] = page_chain(row, weights, cfg, min_text_size, ms, counts)
        page_ms.append((time.perf_counter() - t0) * 1e3)
    n = max(1, len(rows))
    out = {f"{name}.ms_per_page": v / n for name, v in ms.items()}
    out.update({k: v / n if k.endswith("_per_page") else v for k, v in counts.items()})
    q = statistics.quantiles(page_ms, n=100, method="inclusive") if len(page_ms) > 1 else page_ms * 99
    out["oracle.page_ms.p50"] = statistics.median(page_ms)
    out["oracle.page_ms.p99"] = q[98]
    out["oracle.ideal_s"] = statistics.fmean(page_ms) * n_distinct / 1e3 / nproc
    return out, lines
