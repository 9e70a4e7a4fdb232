"""Scale/robustness operators: salted bucketing + per-partition
checkpoint/commit/resume (checkpoint.py), whose manifests carry per-bucket
rows/spans/files lineage taken from the write itself (one Observation plus
the parquet footers)."""

from .checkpoint import (
    bucket_of,
    committed_buckets,
    extract_with_checkpoint,
    read_checkpointed,
)

__all__ = [
    "bucket_of",
    "committed_buckets",
    "extract_with_checkpoint",
    "read_checkpointed",
]
