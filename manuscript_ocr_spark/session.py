"""SparkSession factory with the engine's tuned defaults.

Scale posture: AQE on (runtime shuffle coalescing + skew-join splitting),
small Arrow batches for the media path (page payloads are ~0.36 MB/row —
the default 10k-records-per-batch would materialize gigabytes per Arrow
transfer), zstd parquet output, a driver heap sized from the host's RAM.
On a real cluster the same confs apply via spark-submit --conf; master
comes from the environment there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MB_PER_UNIT = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _driver_memory_mb() -> int:
    """$SPARK_GRAFT_DRIVER_MEM (a JVM size such as 8g or 4096m) if set, else
    half of physical RAM capped at 24g — local-mode driver == executor, and
    the Python workers need the other half."""
    size = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "").strip().lower()
    size = size.removesuffix("b")  # Spark also accepts 8gb / 4096mb
    if size:
        # Spark reads a bare number as MiB
        unit = size[-1] if size[-1] in _MB_PER_UNIT else "m"
        return int(float(size.rstrip("kmgt")) * _MB_PER_UNIT[unit])
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return min(24 * 1024, ram // 2 // 2**20)


_DRIVER_MB = _driver_memory_mb()

DEFAULT_CONFS = {
    # the default 1g heap cannot shuffle binary page payloads (must be set
    # before the JVM launches); collected results get a quarter of it
    "spark.driver.memory": f"{_DRIVER_MB}m",
    "spark.driver.maxResultSize": f"{max(1, _DRIVER_MB // 4)}m",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # split highly-compressed media scans finely: task sizing follows
    # COMPRESSED bytes, and fixture pages compress ~20x, so the default 128m
    # would pack the whole media table into a handful of scan tasks; fine
    # splits also let the OCR UDF read straight off the scan with no payload
    # shuffle (pipeline.ocr_media_lines)
    "spark.sql.files.maxPartitionBytes": "512k",
    "spark.sql.files.openCostInBytes": "128k",
    # media rows carry ~0.36MB binary payloads (a traced 160-page
    # extract_spans sent 58MB to Python); bound Arrow batch memory (64 rows
    # ≈ 23MB — big enough to amortize per-batch overheads, small enough that
    # one worker per core stays well inside the heap)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def get_spark(
    master: str | None = None,
    app_name: str = "manuscript-ocr-spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    # one BLAS thread per python worker: with 32 concurrent workers,
    # multithreaded numpy (OpenBLAS/OMP defaults) thrashes the cores and the
    # Arrow-UDF stage runs ~10x slower than its serial per-page cost
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = SparkSession.builder.master(master).appName(app_name)
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
