"""S4/S5 training-data sources + F6 invalid-annotation filter vs a pure-
Python mirror of the reference logic (detectors/_east/dataset.py:87-120;
recognizers/_trba/data/dataset.py:214-260), and the file-directory media
source (S3) against the parquet media table."""

import json

import numpy as np
import pytest

from manuscript_ocr_spark.fixtures import PAGE_SIZE, ensure_tier
from manuscript_ocr_spark.models.east_tiny import DetectorConfig


COCO = {
    "images": [
        {"id": 1, "file_name": "p1.png", "width": 64, "height": 64},
        {"id": 2, "file_name": "p2.png", "width": 64, "height": 64},
        {"id": 3, "file_name": "p3.png", "width": 64, "height": 64},
        {"id": 4, "file_name": "p4.png", "width": 64, "height": 64},
    ],
    "annotations": [
        # img 1: plain 4-point quad -> valid
        {"id": 10, "image_id": 1, "segmentation": [[0, 0, 9, 0, 9, 9, 0, 9]]},
        # img 2: 3-point polygon (6 numbers) -> invalid
        {"id": 11, "image_id": 2, "segmentation": [[0, 0, 9, 0, 9, 9]]},
        # img 4: reference quirk — TWO 2-point fragments flatten to 8 numbers
        # and np.array(seg).reshape(-1, 2) yields 4 points -> VALID
        {"id": 12, "image_id": 4, "segmentation": [[0, 0, 9, 0], [9, 9, 0, 9]]},
        # img 3 has no annotations at all -> invalid
    ],
}


def _reference_valid_ids(data):
    # verbatim mirror of EASTDataset._filter_invalid (dataset.py:97-120)
    annots = {}
    for ann in data["annotations"]:
        annots.setdefault(ann["image_id"], []).append(ann)
    valid = []
    for img in data["images"]:
        for ann in annots.get(img["id"], []):
            seg = ann.get("segmentation")
            if seg:
                pts = np.array(seg, dtype=np.float32).reshape(-1, 2)
                if pts.shape[0] >= 4:
                    valid.append(img["id"])
                    break
    return sorted(valid)


def test_coco_invalid_annotation_filter(spark, tmp_path):
    from manuscript_ocr_spark.sources import (
        filter_valid_coco_images,
        read_coco_annotations,
    )

    p = tmp_path / "coco.json"
    p.write_text(json.dumps(COCO))
    images, annots = read_coco_annotations(spark, str(p))
    assert images.count() == 4 and annots.count() == 3

    valid, n_dropped = filter_valid_coco_images(images, annots)
    got = sorted(r["image_id"] for r in valid.select("image_id").collect())
    want = _reference_valid_ids(COCO)
    assert got == want == [1, 4]
    assert n_dropped == 2


def test_recognition_label_validation(spark, tmp_path):
    from manuscript_ocr_spark.sources import read_recognition_labels

    p = tmp_path / "labels.csv"
    p.write_text(
        "a.png,hello\n"          # ok
        "only_fname\n"            # bad_row (single field)
        " ,world\n"               # empty_fname (whitespace-only)
        'b.png,""\n'              # empty_label
        "c.png,h3llo!\n"          # charset (! and 3 not in charset)
        "d.png,toolongword\n"     # too_long (> 8)
    )
    df = read_recognition_labels(
        spark, str(p), charset="abcdefghijklmnopqrstuvwxyz3!", max_len=8
    ).toPandas().set_index("filename")
    assert df.loc["a.png", "reason"] == "ok"
    assert df.loc["only_fname", "reason"] == "bad_row"
    assert df.loc["", "reason"] == "empty_fname"
    assert df.loc["d.png", "reason"] == "too_long"

    # charset: use a charset that excludes digits/punct
    df2 = read_recognition_labels(
        spark, str(p), charset="abcdefghijklmnopqrstuvwxyz", max_len=None
    ).toPandas().set_index("filename")
    assert df2.loc["c.png", "reason"] == "charset"
    assert df2.loc["d.png", "reason"] == "ok"  # no max_len -> passes

    # empty label must classify as empty_label, not bad_row
    assert df.loc["b.png", "reason"] == "empty_label"


@pytest.fixture(scope="module")
def fixture_dir():
    return ensure_tier("sf-small")


def test_file_directory_ingestion_matches_table_path(spark, fixture_dir, tmp_path):
    """S3 closure: pages living as FILES (binaryFile scan + filename-encoded
    dims) must extract identically to the parquet media table — the
    reference's file-index predict loop, columnar. Raw planes only (codec
    decode is the documented env stub); 12 pages exercised end to end."""
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.pipeline import extract_spans
    from manuscript_ocr_spark.sources import media_from_raw_files

    media_rows = pq.read_table(f"{fixture_dir}/media.parquet").to_pylist()[:12]
    img_dir = tmp_path / "pages"
    img_dir.mkdir()
    refs = set()
    for m in media_rows:
        name = f"{m['media_ref']}_{m['width']}x{m['height']}x{m['channels']}.gray"
        (img_dir / name).write_bytes(m["pixels"])
        refs.add(m["media_ref"])

    from pyspark.sql import functions as F

    file_media = media_from_raw_files(spark, str(img_dir))
    got_rows = {
        r["media_ref"]: (r["width"], r["height"], r["channels"], bytes(r["pixels"]))
        for r in file_media.collect()
    }
    assert set(got_rows) == refs
    for m in media_rows:
        assert got_rows[m["media_ref"]] == (
            m["width"], m["height"], m["channels"], m["pixels"]
        )

    # end-to-end: extraction over file-backed media == table-backed media,
    # on docs whose media spans all live in the file subset
    docs = spark.read.parquet(f"{fixture_dir}/docs.parquet")
    ok_docs = docs.filter(
        F.forall(
            "spans",
            lambda s: (s["kind"] != "media") | s["media_ref"].isin(list(refs)),
        )
    ).limit(25)
    table_media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    cfg = DetectorConfig(target_size=PAGE_SIZE)
    a = {r["doc_id"]: r["spans"] for r in extract_spans(ok_docs, file_media, cfg=cfg).collect()}
    b = {r["doc_id"]: r["spans"] for r in extract_spans(ok_docs, table_media, cfg=cfg).collect()}
    assert len(a) > 0 and a == b
