"""End-to-end ETL pipeline test (SURVEY §3.1, FIXTURES.md B1)."""

from __future__ import annotations

import logging
import os

import numpy as np
import pytest

from braintumor_data_pipeline_spark.plans.etl import (
    STATS_SCHEMA,
    process_dicom_files,
    run_etl,
)
from braintumor_data_pipeline_spark.sources.dicom import dcmwrite
from braintumor_data_pipeline_spark.sources.png import decode_png


@pytest.fixture(scope="module")
def dicom_dir(tmp_path_factory):
    """~12 synthetic DICOMs: Gaussian 'tumor' blob + noise; some with
    windowing headers (incl. MultiValue), some without; one empty
    PatientID (FIXTURES.md B1)."""
    d = tmp_path_factory.mktemp("dicoms")
    rng = np.random.RandomState(42)
    yy, xx = np.mgrid[0:64, 0:64]
    for i in range(12):
        cy, cx = rng.randint(16, 48, size=2)
        blob = 2000 * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / 60.0)
        px = (blob + rng.normal(0, 50, size=(64, 64)) + 100).astype(np.int16)
        kwargs = {}
        if i % 3 == 0:
            kwargs = {"window_center": 1000.0, "window_width": 2000.0}
        elif i % 3 == 1:
            kwargs = {
                "window_center": [900.0, 500.0],
                "window_width": [1800.0, 300.0],
            }
        blob_bytes = dcmwrite(
            px,
            patient_id="" if i == 5 else f"PAT{i:03d}",
            study_uid=f"1.2.{i // 4}",
            series_uid=f"1.2.{i // 4}.{i}",
            sop_uid=f"1.2.{i // 4}.{i}.0",
            modality="MR",
            **kwargs,
        )
        (d / f"img_{i:03d}.dcm").write_bytes(blob_bytes)
    (d / "not_an_image.txt").write_text("ignored by glob")
    return str(d)


def test_pipeline_stats_frame(spark, dicom_dir):
    df = process_dicom_files(spark, dicom_dir, "processed")
    rows = {r.file_name: r for r in df.collect()}
    assert len(rows) == 12  # .txt filtered by glob (F1)
    r0 = rows["img_000.dcm"]
    assert r0.rows == 64 and r0.cols == 64
    assert r0.gcs_uri_processed == "processed/img_000.png"
    assert r0.window_center == 1000.0 and r0.window_width == 2000.0
    # MultiValue header → first element (P6)
    r1 = rows["img_001.dcm"]
    assert r1.window_center == 900.0 and r1.window_width == 1800.0
    # no header → min-max fallback → NULL wc/ww
    r2 = rows["img_002.dcm"]
    assert r2.window_center is None and r2.window_width is None
    # empty PatientID → NULL hash (P3)
    assert rows["img_005.dcm"].patient_id_hash is None
    h = rows["img_000.dcm"].patient_id_hash
    assert h is not None and len(h) == 16
    # population std over uint8 pixels is bounded
    for r in rows.values():
        assert 0.0 <= r.mean_intensity <= 255.0
        assert 0.0 <= r.std_intensity <= 128.0
    assert df.schema == STATS_SCHEMA


def test_run_etl_sinks(spark, dicom_dir, tmp_path):
    processed = str(tmp_path / "processed")
    stats = str(tmp_path / "stats")
    n = run_etl(spark, dicom_dir, processed, stats)
    assert n == 12
    pngs = sorted(os.listdir(processed))
    assert len(pngs) == 12 and pngs[0] == "img_000.png"
    img = decode_png((tmp_path / "processed" / "img_000.png").read_bytes())
    assert img.shape == (64, 64) and img.dtype == np.uint8
    # the sinks hold exactly the lazy frame's PNG bytes and stats columns
    frame = process_dicom_files(spark, dicom_dir, processed).collect()
    for r in frame:
        written = tmp_path / "processed" / (os.path.splitext(r.file_name)[0] + ".png")
        assert written.read_bytes() == r.png
    keep = [f.name for f in STATS_SCHEMA.fields if f.name not in ("png", "processed_at")]
    stats_df = spark.read.parquet(stats)
    assert stats_df.columns == [f.name for f in STATS_SCHEMA.fields][:-1]
    assert sorted(stats_df.select(keep).collect()) == sorted(
        tuple(r[k] for k in keep) for r in frame
    )
    # append semantics (S10 WRITE_APPEND): each run writes its own 12
    # rows and reports only them; the table accumulates
    n2 = run_etl(spark, dicom_dir, processed, stats)
    assert n2 == 12
    assert spark.read.parquet(stats).count() == 24
    # flagship A13 over the stats table (README.md:167-172 shape)
    stats_df = spark.read.parquet(stats)
    agg = (
        stats_df.groupBy("study_uid")
        .avg("mean_intensity")
        .orderBy("avg(mean_intensity)", ascending=False)
        .limit(50)
    )
    assert agg.count() == 3


def _write_batch(d, rng, n_valid):
    """``n_valid`` readable DICOMs plus one cut inside its pixel data and
    one of random bytes; returns the valid stems."""
    valid = set()
    for i in range(n_valid):
        px = rng.randint(0, 3000, size=(32, 32)).astype(np.int16)
        (d / f"ok_{i}.dcm").write_bytes(dcmwrite(px, patient_id=f"P{i}"))
        valid.add(f"ok_{i}")
    good = dcmwrite(rng.randint(0, 3000, size=(64, 64)).astype(np.int16))
    (d / "truncated.dcm").write_bytes(good[: len(good) - 100])
    (d / "garbage.dcm").write_bytes(rng.bytes(4096))
    return valid


def _holds_cache(spark) -> bool:
    jss = spark._jsparkSession
    return not (
        jss.sharedState().cacheManager().isEmpty()
        and spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    )


def test_run_etl_one_job_rejects_corrupt(spark, tmp_path, caplog):
    """Corrupt DICOMs are dropped and counted; the whole batch is ONE
    Spark job (PNGs written inside the Arrow stage, count from an
    Observation) and leaves nothing cached."""
    src = tmp_path / "in"
    src.mkdir()
    valid = _write_batch(src, np.random.RandomState(7), 6)
    processed, stats = str(tmp_path / "png"), str(tmp_path / "stats")
    sc = spark.sparkContext
    # caches other tests in this session left behind are not run_etl's
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    group = f"etl-one-job-{os.getpid()}"
    sc.setJobGroup(group, "run_etl job count")
    caplog.set_level(logging.INFO, logger="braintumor_data_pipeline_spark.plans.etl")
    try:
        n = run_etl(spark, str(src), processed, stats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == len(valid)
    assert {os.path.splitext(f)[0] for f in os.listdir(processed)} == valid
    assert spark.read.parquet(stats).count() == len(valid)
    assert not _holds_cache(spark)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    rec = [r.getMessage() for r in caplog.records if "run_etl" in r.getMessage()]
    assert len(rec) == 1 and f"accepted={len(valid)} rejected=2" in rec[0]


def test_run_etl_no_dicoms(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "readme.txt").write_text("no DICOMs here")
    assert run_etl(spark, str(src), str(tmp_path / "png"), str(tmp_path / "stats")) == 0


def test_process_dicom_files_has_no_side_writes(spark, dicom_dir, tmp_path, monkeypatch):
    """The lazy frame only computes: PNG side-writes live in run_etl."""
    monkeypatch.chdir(tmp_path)
    process_dicom_files(spark, dicom_dir).write.format("noop").mode("overwrite").save()
    assert os.listdir(tmp_path) == []
