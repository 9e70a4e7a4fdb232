"""Correctness checks, run outside every timed window.

- Extraction output: one digest per doc over its ordered span sequence
  ``(kind, text, media_ref, offset, seq)``; docs are compared by id, so the
  check does not depend on row order.
- Corpus query output: an order-insensitive value hash with the same
  normalization as the repository's oracle checker (columns sorted by name,
  floats at 6 decimals, null and NaN as one token, rows sorted).
"""

from __future__ import annotations

import hashlib
import json
import math

SPAN_FIELDS = ("kind", "text", "media_ref", "offset", "seq")


def doc_digest(spans) -> str:
    """Digest of one doc's ordered spans (dicts or Rows with SPAN_FIELDS)."""
    seq = [[s[k] for k in SPAN_FIELDS] for s in spans]
    return hashlib.sha1(json.dumps(seq, separators=(",", ":")).encode()).hexdigest()


def mismatched_docs(expected: dict, actual: dict) -> int:
    """Docs whose digest differs, plus docs missing on either side."""
    bad = sum(1 for d, h in expected.items() if actual.get(d) != h)
    return bad + sum(1 for d in actual if d not in expected)


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def value_hash(pdf) -> str:
    """Order-insensitive hash of a pandas DataFrame's values."""
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted("|".join(_cell(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()
