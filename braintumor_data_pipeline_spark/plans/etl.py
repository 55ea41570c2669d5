"""The batch image-ETL pipeline (SURVEY §3.1) — Spark port of the
reference's Beam dataflow (`dataflow_pipeline.py`):

    MatchFiles → ReadMatches → ParDo(decode→window→CLAHE→blur→PNG→stats)
        → BigQuery append  (+ PNG side-writes inside the ParDo)

becomes

    binaryFile scan (glob) → ONE fused mapInPandas stage (+ PNG
        side-writes inside it) → stats parquet append

`run_etl` is exactly one Spark job per call: the PNG bytes are written
by the Python worker that encoded them and never return to the JVM,
nothing is cached, and the row counts come from Observations on that
same job instead of a second action. `process_dicom_files` is the lazy,
side-effect-free frame (with the `png` column) for callers that choose
their own sinks.

Design (SURVEY §4.2): the whole per-image transform chain is fused into
a single Arrow stage — N chained pandas UDFs would pay N JVM↔Python
round-trips for the same work the reference fuses into one DoFn body.
Scale: the binaryFile source splits by files across executors
(`spark.sql.files.maxPartitionBytes` caps partition payload); stats
rows are tiny and shuffle-free; the only Python is the per-image numpy
math, batched by Arrow.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator
from datetime import datetime, timezone
from hashlib import sha256

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.imaging import (
    apply_windowing_pipeline,
    clahe,
    gaussian_blur,
)
from ..sources.dicom import dcmread
from ..sources.png import encode_png

_log = logging.getLogger(__name__)

# bq_schema.json:1-19 mapped per SURVEY §1.2, plus the png payload column.
STATS_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("gcs_uri_raw", T.StringType(), False),
        T.StructField("gcs_uri_processed", T.StringType(), False),
        T.StructField("patient_id_hash", T.StringType(), True),
        T.StructField("study_uid", T.StringType(), True),
        T.StructField("series_uid", T.StringType(), True),
        T.StructField("sop_instance_uid", T.StringType(), True),
        T.StructField("modality", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("cols", T.LongType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("std_intensity", T.DoubleType(), True),
        T.StructField("window_center", T.DoubleType(), True),
        T.StructField("window_width", T.DoubleType(), True),
        T.StructField("processed_at", T.TimestampType(), False),
        T.StructField("png", T.BinaryType(), True),
    ]
)
# what run_etl appends: the PNG bytes stay in the Python worker
_STATS_ONLY = T.StructType(STATS_SCHEMA.fields[:-1])


def _process_partition(
    batches: Iterator[pd.DataFrame], processed_prefix: str
) -> Iterator[pd.DataFrame]:
    """The fused DoFn body (`dataflow_pipeline.py:68-110`), one Arrow
    batch of (path, content) in, one batch of stats rows out."""
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                ds = dcmread(bytes(content))
                arr = ds.pixel_array
            except Exception:  # unreadable file → dropped row (F3 analog)
                continue

            wc_vals = ds.window_center
            ww_vals = ds.window_width
            # MultiValue → first element (dataflow_pipeline.py:25-26)
            wc = wc_vals[0] if wc_vals else None
            ww = ww_vals[0] if ww_vals else None
            img_u8, wc, ww = apply_windowing_pipeline(arr, wc, ww)
            img_u8 = clahe(img_u8, clip_limit=2.0, tile_grid=(8, 8))
            img_u8 = gaussian_blur(img_u8, 0.5)

            try:
                png_bytes = encode_png(img_u8)
            except Exception:  # encode failure → silently filtered (F3)
                continue

            file_name = os.path.basename(path)
            stem = os.path.splitext(file_name)[0]
            pid = ds.PatientID
            rows.append(
                {
                    "file_name": file_name,
                    "gcs_uri_raw": path,
                    "gcs_uri_processed": f"{processed_prefix.rstrip('/')}/{stem}.png",
                    "patient_id_hash": (
                        sha256(pid.encode("utf-8")).hexdigest()[:16] if pid else None
                    ),
                    "study_uid": ds.StudyInstanceUID or None,
                    "series_uid": ds.SeriesInstanceUID or None,
                    "sop_instance_uid": ds.SOPInstanceUID or None,
                    "modality": ds.Modality or None,
                    "rows": int(img_u8.shape[0]),
                    "cols": int(img_u8.shape[1]),
                    "mean_intensity": float(np.mean(img_u8)),
                    "std_intensity": float(np.std(img_u8)),  # population (A2)
                    "window_center": float(wc) if wc is not None else None,
                    "window_width": float(ww) if ww is not None else None,
                    "processed_at": datetime.now(timezone.utc).replace(tzinfo=None),
                    "png": png_bytes,
                }
            )
        yield pd.DataFrame(rows, columns=[f.name for f in STATS_SCHEMA.fields])


def _scan(spark: SparkSession, input_glob: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.dcm")
        .load(input_glob)
        .select("path", "content")
    )


def process_dicom_files(
    spark: SparkSession, input_glob: str, processed_prefix: str = "processed"
) -> DataFrame:
    """Scan (S1/S2) + decode/transform/stats (S3, X1, X4, X5, X7, A1/A2,
    P1-P7) as a lazy DataFrame; callers choose the sinks."""
    return _scan(spark, input_glob).mapInPandas(
        lambda it: _process_partition(it, processed_prefix), STATS_SCHEMA
    )


def _write_pngs(
    batches: Iterator[pd.DataFrame], out_dir: str
) -> Iterator[pd.DataFrame]:
    """PNG side-sink (S9) inside the Arrow stage, as the reference writes
    inside its ParDo: each batch's PNGs go to ``out_dir`` before its
    stats rows are yielded, so the bytes never return to the JVM."""
    os.makedirs(out_dir, exist_ok=True)
    for pdf in batches:
        for file_name, png in zip(pdf["file_name"], pdf["png"]):
            stem = os.path.splitext(file_name)[0]
            with open(os.path.join(out_dir, stem + ".png"), "wb") as fh:
                fh.write(png)
        yield pdf.drop(columns="png")


def run_etl(
    spark: SparkSession,
    input_glob: str,
    processed_dir: str,
    stats_path: str,
) -> int:
    """Execute the full pipeline as ONE Spark job: scan → fused Arrow
    stage that writes each batch's PNGs (S9) as the reference's ParDo
    does → stats append sink (S10, `WRITE_APPEND`/`CREATE_IF_NEEDED` ≈
    parquet mode=append). PNGs land before the stats commit; a retried
    task rewrites the same file names.

    Returns the number of stats rows THIS run wrote (the parquet table
    itself accumulates across runs), counted by an Observation on the
    same job. A second one counts the scanned `*.dcm` files, and one
    log record per call reports `accepted` and `rejected` (scanned −
    accepted: unreadable or unencodable DICOMs)."""
    scanned, accepted = Observation(), Observation()
    scan = _scan(spark, input_glob).observe(scanned, F.count(F.lit(1)).alias("n"))
    stats = (
        scan.mapInPandas(
            lambda it: _write_pngs(
                _process_partition(it, processed_dir), processed_dir
            ),
            _STATS_ONLY,
        )
        .observe(accepted, F.count(F.lit(1)).alias("n"))
    )
    stats.write.mode("append").parquet(stats_path)
    n_scanned, n_accepted = scanned.get["n"], accepted.get["n"]
    _log.info(
        "run_etl %s: accepted=%d rejected=%d",
        input_glob, n_accepted, n_scanned - n_accepted,
    )
    return n_accepted
