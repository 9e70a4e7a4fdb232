"""Self-tests of the benchmark's own instruments.

    python -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout. The event-log test starts a small local
Spark application.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import inputs  # noqa: E402
import ledger  # noqa: E402


def test_chain_decomposition_reproduces_oracle():
    """The per-layer split runs the same chain as page_to_line_texts."""
    from manuscript_ocr_spark.fixtures import _worker_weights, render_page
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import DEFAULT_MIN_TEXT_SIZE, page_to_line_texts

    weights = _worker_weights()
    cfg = DetectorConfig()
    rows, expected = [], {}
    # a 40-page pool holds every page kind render_page draws
    pool = inputs.pool_indices(3, 40)
    assert {inputs.page_kind(i) for i in pool} == {k for k, _ in inputs.PAGE_MIX} | {"normal"}
    for p, idx in enumerate(pool):
        gray, _ = render_page(idx, weights)
        row = inputs.media_table([{
            "media_ref": f"page-{p:04d}", "width": gray.shape[1], "height": gray.shape[0],
            "channels": 1, "pixels": gray.tobytes()}]).to_pylist()[0]
        rows.append(row)
        expected[row["media_ref"]] = page_to_line_texts(gray, weights, cfg)
    metrics, lines = ledger.chain_ledger(rows, weights, cfg, DEFAULT_MIN_TEXT_SIZE, 40, 4)
    assert lines == expected
    assert any(r["height"] != 640 for r in rows)  # resize path exercised
    assert metrics["kernels.image.resize.ms_per_page"] > 0
    assert metrics["lanms.boxes_in"] >= metrics["lanms.boxes_out"] > 0
    for name in ledger.CHAIN:
        assert f"{name}.ms_per_page" in metrics


def test_digest_catches_one_perturbed_span():
    spans = [
        {"kind": "text", "text": "a b", "media_ref": None, "offset": 0, "seq": 0},
        {"kind": "ocr_line", "text": "xy", "media_ref": "page-0001", "offset": 1, "seq": 0},
        {"kind": "ocr_line", "text": "zw", "media_ref": "page-0001", "offset": 1, "seq": 1},
    ]
    expected = {"d1": check.doc_digest(spans), "d2": check.doc_digest(spans[:1])}
    assert check.mismatched_docs(expected, dict(expected)) == 0
    for field, value in (("text", "zW"), ("seq", 2), ("offset", 2),
                         ("media_ref", "page-0002"), ("kind", "text")):
        bad = [dict(s) for s in spans]
        bad[2][field] = value
        actual = dict(expected, d1=check.doc_digest(bad))
        assert check.mismatched_docs(expected, actual) == 1
    swapped = [spans[0], spans[2], spans[1]]
    assert check.mismatched_docs(expected, dict(expected, d1=check.doc_digest(swapped))) == 1
    assert check.mismatched_docs(expected, {"d1": expected["d1"]}) == 1


def test_value_hash_is_order_insensitive():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [0.1, None]})
    b = pd.DataFrame({"y": [float("nan"), 0.1], "x": [2, 1]})
    assert check.value_hash(a) == check.value_hash(b)
    assert check.value_hash(a) != check.value_hash(a.assign(x=[1, 3]))


def test_covered_union():
    assert ledger.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert ledger.covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2


@pytest.fixture(scope="module")
def spark():
    from manuscript_ocr_spark.session import get_spark

    os.environ.setdefault("PYTHONPATH", os.path.dirname(HERE))
    spark = get_spark(master="local[2]", app_name="perfbench-selftest", extra_confs={
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    })
    yield spark
    spark.stop()


def test_event_log_parser_yields_named_fields(spark):
    import time

    log_dir = os.path.join(HERE, ".data", "selftest-eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)

    def double(it):
        for pdf in it:
            yield pdf.assign(v=pdf["v"] * 2)

    df = spark.range(0, 400, numPartitions=4).selectExpr("id", "id % 7 AS v")
    df.count()  # before the recorder: not in the log
    with ledger.EventLogRecorder(spark, log_dir) as recorder:
        t0 = time.time()
        rows = df.mapInPandas(double, "id long, v long").groupBy("v").count().collect()
        t1 = time.time()
    assert len(rows) == 7
    log = ledger.EventLog(recorder.path)
    shutil.rmtree(log_dir, ignore_errors=True)
    jobs = log.jobs_between(t0 - 1, t1 + 1)
    assert jobs and sorted(log.jobs) == jobs
    stages = log.stages_of(jobs)
    totals = log.totals(stages)
    for key in ledger.PY_METRICS.values():
        assert key in totals
    assert totals["python.data_sent_mb"] > 0
    assert totals["python.total_s"] > 0
    assert totals["shuffle.write_mb"] > 0
    assert totals["executor_run_s"] >= 0 and totals["tasks"] >= 4
    py = log.python_stage(stages)
    assert py is not None
    assert sum(log.python_rows(t) for t in log.stages[py]["tasks"]) == 400
