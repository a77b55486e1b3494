"""Multimodal plumbing tests: schemas, Arrow batch shapes, 1->N row
expansion, parquet round-trip — with the stubbed decoder (the real
decode boundary raises NotImplementedError by design)."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    documents_as_media,
    extract_features,
    fake_decode,
    frame_sample_stub,
    resize_stub,
    strict_decoder,
)
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return documents_as_media(load(spark, SF_DIR, "documents").limit(50))


def test_media_schema(media):
    assert media.schema == MEDIA_SCHEMA or [f.name for f in media.schema] == [
        f.name for f in MEDIA_SCHEMA
    ]
    row = media.first()
    assert isinstance(row.content, bytearray | bytes)
    assert row.meta["lang"] is not None


def test_extract_features_shapes_and_determinism(spark, media):
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r.feature) == FEATURE_DIM for r in rows)
    assert all(len(r.content_sha256) == 64 for r in rows)
    # deterministic: same input -> same feature
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)
    # feature values match the python-side fake decoder
    sample = media.first()
    assert [round(x, 6) for x in again[sample.media_id]] == [
        round(x, 6) for x in fake_decode(bytes(sample.content))
    ]


def test_strict_decoder_is_the_stub_boundary(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        extract_features(media, decoder=strict_decoder).collect()


def test_resize_stub_round_trip(spark, media, tmp_path):
    out = resize_stub(media, 32, 32)
    target = 32 * 32 // 64 + 1
    rows = out.collect()
    assert all(len(r.content) == target for r in rows)
    assert all(r.meta["resized"] == "32x32" for r in rows)
    # parquet round-trip preserves binary + map columns
    p = str(tmp_path / "media")
    out.write.parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == 50
    assert dict(back.dtypes)["content"] == "binary"


def test_frame_sample_expands_rows(spark, media):
    frames = frame_sample_stub(media, every_n=2)
    agg = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r.n >= 1 for r in agg)
    assert frames.count() > 50  # 1 -> N expansion happened
    first = frames.filter(F.col("frame_no") == 0).first()
    assert isinstance(first.frame, bytearray | bytes)


def test_check_correctness_runs_outside_repo_root(tmp_path):
    """q93's mapInPandas worker imports the plan module by name, so the
    oracle tool must hand the repo root to the Python workers, not only
    to its own sys.path, when started from another directory."""
    tool = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_correctness.py"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(tool), SF_DIR, "q93_multimodal_featurize"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        check=False,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1 ok, 0 rows-only, 0 FAIL" in proc.stdout
